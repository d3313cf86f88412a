package graft.store

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.mapping.Mapping
import graft.operators.{CreateAndUpdate, ImportMode, Upsert}
import org.apache.spark.sql.graft.{Bridge => B}

/** Hand-rolled parquet-manifest table format: the incremental MERGE sink
  * for continuous and batch imports.
  *
  * The reference commits row-at-a-time through an ORM session
  * (importtask.py:369-371) — incremental by construction but serial. The
  * earlier Spark sink here was the opposite: atomic and parallel, but it
  * rewrote the ENTIRE merged target as a new version every micro-batch;
  * at 100 TB a 1,000-row batch would rewrite 100 TB. This format makes the
  * write cost proportional to the TOUCHED DATA, not the table:
  *
  *   root/
  *     data/v<version>-<attempt>/_bucket=<k>/part-*.parquet  (immutable)
  *     manifest/m<version>                       (atomically renamed file)
  *
  * Rows are hash-bucketed on the NORMALIZED upsert key
  * (`pmod(hash(norm(key)), numBuckets)`). A manifest is a small text file
  * listing, per live bucket: the data directory holding it, its row count
  * and its key range (min/max as strings — diagnostics plus reader-side
  * pruning for orderable keys; parquet footers already give columnar
  * min/max per row group). A MERGE:
  *
  *   1. computes the batch's touched buckets (≤ numBuckets values — a
  *      bounded aggregate, never a key collect),
  *   2. reads ONLY the files of touched buckets as the target fragment,
  *   3. runs the standard one-join [[graft.operators.Upsert]] of fragment
  *      vs batch,
  *   4. writes the merged touched buckets under an ATTEMPT-UNIQUE
  *      directory `data/v<version>-<attempt>`,
  *   5. publishes manifest <version> = untouched entries (verbatim — their
  *      files are never rewritten, never even read) + rewritten entries,
  *      via temp-write + NO-OVERWRITE atomic rename.
  *
  * A merge may instead write DELTAS (`delta = true`): only the batch's
  * own post-merge rows are written as additional per-bucket files, the
  * touched buckets' existing files stay live, and readers reconcile
  * last-version-wins per key — write cost proportional to the BATCH.
  * [[compact]] folds a bucket's accumulated files back into one
  * (size-tiered by file count, touched buckets only), restoring
  * reconciliation-free scans; the LSM discipline, with the manifest as
  * the level index.
  *
  * Readers resolve the highest committed manifest and union its files:
  * they never see a half-merged state. Each merge carries a
  * (streamId, batchId) idempotency token recorded in the manifest as
  * `lastBatch`; re-delivery of the last committed batch is a no-op,
  * making at-least-once foreachBatch delivery exactly-once. Table
  * versions are internal (`current + 1`). A crash between the data write
  * and the manifest rename leaves an orphan attempt directory that no
  * manifest references — invisible, and garbage-collected by `vacuum`.
  *
  * CONCURRENCY (optimistic): the manifest rename is a no-overwrite
  * commit — whoever renames `m<version>` into place first owns that
  * version. Everything an attempt writes BEFORE its commit lives under
  * attempt-unique names (`data/v<N>-<attempt>`, `history/v<N>-<attempt>`,
  * `stats/v<N>-<attempt>`), so a losing or crashed attempt can never
  * clobber committed files; a loser deletes its own uncommitted
  * directories and RETRIES its whole operation against the new current
  * manifest (the touched fragment may have changed, so the merge is
  * recomputed, never rebased blindly). The committed manifest records the
  * winning attempt's id (`sideId`), so history/stats readers resolve
  * exactly the winner's side directories — a crashed loser's leftovers
  * are invisible, and `vacuum` garbage-collects them. Rename-if-absent is
  * atomic on HDFS/ABFS; on raw S3 (and the local FS used in tests) the
  * exists-check preceding the rename is best-effort — front the manifest
  * directory with a consistent store for multi-writer S3.
  *
  * Filesystems are resolved from the paths they operate on (never the
  * default FS).
  *
  * At scale: `numBuckets` bounds the merge's write amplification — a
  * micro-batch touching k distinct buckets rewrites k/numBuckets of the
  * table at most, and the untouched fraction costs zero I/O. Pick
  * numBuckets so a bucket ≈ a comfortable file size (e.g. 100 TB / 256 MB
  * ≈ 400k buckets); the manifest stays a few MB of text.
  */
object ManifestTable {

  /** One live file of a bucket in a committed manifest. `relPath` is
    * relative to the table root: format 8 records the concrete data
    * FILE (with `bytes` its size, so scan planning never lists the
    * filesystem — [[GraftFileIndex]]); pre-8 entries point at the
    * `_bucket=<k>` leaf directory and list lazily. Key stats are
    * min/max of the NORMALIZED key rendered as a string (the same
    * `keyComparator` space the bucket hash uses), so comparator-aware
    * lookups can prune against them. `seq` is the table version that
    * wrote the file: a bucket may carry a base file plus DELTA files
    * from later `merge(delta = true)` commits, reconciled
    * last-seq-wins per key on read; [[compact]] folds them back to one
    * file per bucket. `named` marks a file stamped with Spark's
    * bucket-id name suffix at write — when every live file is, the
    * read side reports a real `BucketSpec` (see [[GraftScan]]). */
  /** `minZ`/`maxZ` (format 9) are the key's per-file ZONE stats in an
    * ORDER-TRUE numeric domain ([[ZoneSkip.keyKind]] — internal longs /
    * epoch micros / epoch days / normalized doubles), recorded by the
    * writer for identity-normalized numeric-family keys. They exist
    * because `minKey`/`maxKey` are LEXICAL min/max of the rendered key
    * strings — sound for equality containment, but "10" < "9" makes
    * them unusable for numeric ranges. Empty = not recorded (legacy
    * entry, string key, or a comparator-normalized layout) — readers
    * must then keep the file. */
  /** `nullKeys` (format 11) records whether the file MAY hold rows
    * whose raw or normalized key is NULL. Such rows are invisible to a
    * secondary index (collect_list drops null keys) and unaddressable
    * by key probes, so index-derived rewrites/hints
    * ([[AutoProbeJoin]]/[[AutoIndexFilter]]) are only sound on tables
    * whose live entries all record false. Legacy entries parse as TRUE
    * (may hold) — conservative: the rewrites decline, plain scans
    * serve. */
  /** `sorted` (format 12) records that the file was written CLUSTER-
    * SORTED by the layout's cluster expression ([[writeBuckets]] with a
    * cluster layout — clusterBy, zOrderBy, recluster). It is the
    * per-file DRIFT signal [[recluster]] reads: every other writer (merge, delta, compact,
    * DML rewrites) produces `sorted = false` entries, so "this bucket
    * needs a layout refresh" is a pure manifest fact — no data read,
    * no extra bookkeeping commit. Legacy entries parse as false
    * (conservative: at worst an already-clustered legacy bucket
    * rewrites once more). */
  /** `tomb` (format 13) marks a DELETE-TOMBSTONE delta file: a tiny
    * parquet holding only the key column (the RAW deleted keys, at the
    * table's key type), written by `delete(delta = true)` at the
    * commit's own seq. The reconcile chain treats its keys exactly
    * like any higher-level override — they kill every lower-seq row
    * with the same normalized key — but the file contributes NO output
    * rows, so the read sees the keys as deleted. [[compact]] folds
    * tombstones away like any tiered delta (the reconciled rewrite
    * simply has no row to carry), and [[vacuum]] GCs their data dirs
    * normally. This is what makes keyed deletion cost ∝ deleted keys
    * instead of ∝ touched-bucket bytes — the GDPR-erasure shape at
    * 100 TB, where rewriting every touched 10 GB-class bucket to erase
    * 10 keys would be a 100 GB write. */
  final case class FileEntry(
      bucket: Int, rows: Long, minKey: String, maxKey: String,
      relPath: String, seq: Long = 0L, bytes: Long = 0L,
      named: Boolean = false, minZ: String = "", maxZ: String = "",
      nullKeys: Boolean = true, sorted: Boolean = false,
      tomb: Boolean = false)

  /** `version` is the table's own monotone commit counter (internal —
    * callers never choose it). Replay detection is separate:
    * `lastBatches` records, PER STREAM ID, the batchId of that stream's
    * last committed merge — so with two interleaved writers (two streams,
    * or commitIncremental plus a stream) a replayed batch still no-ops
    * instead of being re-applied just because another writer committed in
    * between. The map is bounded by the number of distinct writers, not
    * data. `lastDelete` is the token of the last delete/rebucket. A
    * `create()`-bootstrapped table starts at version 0 with NO batch
    * tokens, so a stream's batch 0 still applies. `sideId` is the id of
    * the attempt that won this version's commit — history/stats side
    * directories are resolved through it. `udfKey` (format 8) records
    * that the table was laid out by a comparator whose SQL could NOT be
    * recorded — readers must then never key-prune or claim bucketing
    * from an empty `keyExpr` (pre-8 manifests can't make the
    * distinction, so `format` rides along for the same guard). */
  /** `clusterCol` (format 9) records that [[clusterBy]] re-laid the
    * table's files out ordered by that non-key column. Two readers
    * consult it: the scan must NOT claim within-file key sort while it
    * is set (files are cluster-sorted — a false sort claim would let a
    * sort-merge join skip its Sort on unsorted data), and zone lookups
    * learn which column the layout was built to prune. Any later
    * rewrite that breaks the clustering for SOME buckets (merge,
    * delete, compact) keeps the marker — conservative: the sort claim
    * stays off; only [[rebucket]]'s whole-table key-sorted re-layout
    * clears it. */
  /** `colMap` (format 10) is the COLUMN-MAPPING table: (logical,
    * physical) name pairs, recorded only where they differ. The
    * physical name — fixed when the column is first written — is what
    * every data FILE stores; everything else in the manifest (the
    * recorded schema, `keyColumn`, `keyExpr`, `clusterCol`) speaks the
    * LOGICAL name, so [[renameColumn]] is a metadata-only commit that
    * rewrites those fields and remaps the logical name onto the
    * unchanged physical one. Exactly two places translate: the scan
    * ([[GraftScan.frame]] reads files under physical names and aliases
    * back) and the one bucket writer ([[writeBuckets]] renames to
    * physical just before the parquet write) — the Delta-Lake
    * column-mapping trick, name-mapping flavor. */
  /** `splits` (format 13) is the ONLINE BUCKET-SPLIT tree: the set of
    * split NODES as (value, depth) pairs. Bucket ids form a binary trie
    * per creation-time bucket: the root of parent `b` is node (b, 0);
    * splitting node (x, d) replaces it with children x and
    * x + numBuckets·2^d at depth d+1 (extendible hashing, the sub-bits
    * drawn from the key hash for BOTH hash and range layouts — see
    * [[leafExpr]]). Live LEAF values are globally unique (the frontier
    * of a binary trie is prefix-free), so `FileEntry.bucket` holds the
    * leaf value alone and every touched-bucket partition keeps working
    * verbatim; depth matters only for walking the tree, which is why
    * split nodes record it. Empty = never split (every pre-13 table).
    * This is what lets a table created at 1 TB grow to 100 TB without
    * [[rebucket]]'s full rewrite: [[splitBuckets]] rewrites ONLY the
    * over-threshold leaves, and each leaf's byte size — the unit every
    * touched-bucket op pays — stays bounded by the split threshold
    * instead of growing with the table. */
  final case class Manifest(
      version: Long, numBuckets: Int, entries: Seq[FileEntry],
      lastBatches: Map[String, Long] = Map.empty,
      lastDelete: Option[Long] = None,
      sideId: String = "",
      keyColumn: String = "",
      keyExpr: String = "",
      lastCompact: Option[Long] = None,
      rangeBounds: Seq[String] = Nil,
      schemaJson: String = "",
      udfKey: Boolean = false,
      clusterCol: String = "",
      colMap: Seq[(String, String)] = Nil,
      format: Int = 10,
      splits: Seq[(Int, Int)] = Nil)

  /** SHALLOW-CLONE entries ([[cloneAt]]) carry an `ext:`-prefixed
    * relPath: the rest of the string is the source file's ABSOLUTE
    * qualified URI, resolved as-is instead of against the table root.
    * A convention inside manifest format 13, not a format bump — every
    * reader resolves entries through [[dataPath]], writers never
    * produce ext paths (any rewrite of a cloned bucket lands local
    * files, so clones diverge copy-on-write). */
  private[store] def isExt(e: FileEntry): Boolean =
    e.relPath.startsWith("ext:")
  private[store] def dataPath(root: String, e: FileEntry): String =
    if (isExt(e)) e.relPath.substring(4) else s"$root/${e.relPath}"

  private val BucketCol = "_bucket"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def enc(s: String): String =
    URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def dec(s: String): String =
    URLDecoder.decode(s, StandardCharsets.UTF_8)

  private def newAttemptId(): String =
    java.util.UUID.randomUUID.toString.replace("-", "").take(12)

  /** Test seam: invoked after the temp manifest is written, immediately
    * before the commit-point rename — specs interleave a competing
    * committer here to exercise the OCC conflict path deterministically. */
  private[graft] var testBeforeCommit: () => Unit = () => ()

  /** Test seam: when set, [[writeBuckets]] drops its write's observed
    * stats, so specs drive the readback fallback and check its entries
    * against the observed path's. */
  private[graft] var testDropObservation: Boolean = false

  /** Highest committed manifest version, if any. Commit = the renamed
    * `m<version>` file exists; there is no torn state to filter because
    * the rename is the atomic commit point. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val dir = new Path(s"$root/manifest")
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) None
    else {
      val vs = fs.listStatus(dir).toSeq
        .map(_.getPath.getName)
        .filter { n =>
          val s = n.stripPrefix("m")
          n.startsWith("m") && s.nonEmpty && s.forall(_.isDigit)
        }
        .map(_.stripPrefix("m").toLong)
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** Parses a committed manifest. Line 1: `graft-manifest <format>`.
    * Format 4 line 2: `numBuckets \t lastBatches \t lastDelete \t sideId
    * \t keyColumn` where lastBatches is comma-joined `enc(streamId):
    * batchId` pairs (URL-encoding never emits ':' or ','); formats ≤3
    * carried a single `lastBatchStream \t lastBatchId` token instead.
    * Format 5 appends `\t enc(keyExpr) \t lastCompact`: `keyExpr` is the
    * SQL of the writing mapping's comparator applied to the key column
    * (empty = identity), so readers reconcile delta files in NORMALIZED
    * key space without being handed the comparator function;
    * `lastCompact` is [[compact]]'s own replay token — separate from
    * `lastDelete` so an automated compaction token can never collide
    * with (and silently swallow) a user's delete token. Format 6 appends
    * `\t` + the comma-joined URL-encoded RANGE-LAYOUT boundary list
    * (empty = hash-bucketed; see [[create]]'s `rangeBounds`). Format 7
    * appends `\t enc(schemaJson)` — the table's own StructType as JSON,
    * making the table SELF-DESCRIBING (schema-less reads, SQL without a
    * DDL argument, streaming sources that infer their schema) and giving
    * [[merge]]'s add-only schema evolution its compatibility baseline.
    * Then one tab-separated entry
    * per live FILE (format 4+ appends the writing version `seq`; a
    * bucket may have several entries) with URL-encoded key stats (keys
    * may contain tabs/newlines). */
  def readManifest(spark: SparkSession, root: String, version: Long): Manifest = {
    val p = new Path(s"$root/manifest/m$version")
    val fs = fsOf(spark, p)
    val in = fs.open(p)
    val text =
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    // Formats 1 (numBuckets only), 2 (tokens, version-named side dirs),
    // 3 (single lastBatch token), 4 (per-stream batch tokens) and 5
    // (recorded keyExpr + lastCompact) stay READABLE so tables committed
    // by earlier code aren't bricked by the upgrade; writes always
    // produce format 6 (appends the range-layout boundary list — empty
    // for hash-bucketed tables).
    val format = lines.head match {
      case "graft-manifest 13" => 13
      case "graft-manifest 12" => 12
      case "graft-manifest 11" => 11
      case "graft-manifest 10" => 10
      case "graft-manifest 9" => 9
      case "graft-manifest 8" => 8
      case "graft-manifest 7" => 7
      case "graft-manifest 6" => 6
      case "graft-manifest 5" => 5
      case "graft-manifest 4" => 4
      case "graft-manifest 3" => 3
      case "graft-manifest 2" => 2
      case "graft-manifest 1" => 1
      case other => throw new IllegalArgumentException(
        s"unsupported manifest header: $other")
    }
    val h = lines(1).split("\t", -1)
    val numBuckets = h(0).toInt
    val (lastBatches, lastDelete, sideId, keyColumn) =
      if (format >= 4) {
        val lb =
          if (h(1).isEmpty) Map.empty[String, Long]
          else h(1).split(",", -1).map { pair =>
            val i = pair.lastIndexOf(':')
            dec(pair.substring(0, i)) -> pair.substring(i + 1).toLong
          }.toMap
        val ld = if (h(2).isEmpty) None else Some(h(2).toLong)
        (lb, ld, h(3), dec(h(4)))
      } else {
        val lb =
          if (h.length < 3 || h(2).isEmpty) Map.empty[String, Long]
          else Map(dec(h(1)) -> h(2).toLong)
        val ld = if (h.length < 4 || h(3).isEmpty) None else Some(h(3).toLong)
        (lb, ld, if (h.length < 5) "" else h(4), "")
      }
    val keyExpr = if (format >= 5) dec(h(5)) else ""
    val lastCompact =
      if (format >= 5 && h.length > 6 && h(6).nonEmpty) Some(h(6).toLong)
      else None
    val rangeBounds =
      if (format >= 6 && h.length > 7 && h(7).nonEmpty)
        h(7).split(",", -1).toSeq.map(dec)
      else Nil
    val schemaJson =
      if (format >= 7 && h.length > 8 && h(8).nonEmpty) dec(h(8)) else ""
    val udfKey = format >= 8 && h.length > 9 && h(9) == "1"
    val clusterCol =
      if (format >= 9 && h.length > 10 && h(10).nonEmpty) dec(h(10)) else ""
    val colMap =
      if (format >= 10 && h.length > 11 && h(11).nonEmpty)
        h(11).split(",", -1).toSeq.map { pair =>
          val i = pair.indexOf('=')
          (dec(pair.substring(0, i)), dec(pair.substring(i + 1)))
        }
      else Nil
    val splits =
      if (format >= 13 && h.length > 12 && h(12).nonEmpty)
        h(12).split(",", -1).toSeq.map { pair =>
          val i = pair.indexOf(':')
          (pair.substring(0, i).toInt, pair.substring(i + 1).toInt)
        }
      else Nil
    val entries = lines.drop(2).map { l =>
      val f = l.split("\t", -1)
      FileEntry(f(0).toInt, f(1).toLong, dec(f(2)), dec(f(3)), f(4),
        if (f.length > 5) f(5).toLong else 0L,
        if (f.length > 6) f(6).toLong else 0L,
        f.length > 7 && f(7) == "1",
        if (f.length > 8) dec(f(8)) else "",
        if (f.length > 9) dec(f(9)) else "",
        // pre-11 entries may hold null-keyed rows; format 11 records it
        nullKeys = if (f.length > 10) f(10) == "1" else true,
        // pre-12 entries make no cluster-sort claim
        sorted = f.length > 11 && f(11) == "1",
        // pre-13 files are never tombstones
        tomb = f.length > 12 && f(12) == "1")
    }
    Manifest(version, numBuckets, entries, lastBatches, lastDelete, sideId,
      keyColumn, keyExpr, lastCompact, rangeBounds, schemaJson, udfKey,
      clusterCol, colMap, format, splits)
  }

  def currentManifest(spark: SparkSession, root: String): Option[Manifest] =
    currentVersion(spark, root).map(readManifest(spark, root, _))

  /** The committed table state (empty frame with `schema` when none). */
  def read(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    readManifestState(spark, root, schema, currentManifest(spark, root))

  /** Schema-less read of a SELF-DESCRIBING table (format 7+ manifests
    * record their schema). Loud error on pre-format-7 tables. */
  def read(spark: SparkSession, root: String): DataFrame =
    read(spark, root, requireSchema(spark, root))

  /** TIME TRAVEL: the table as of committed version `version` — data
    * directories are immutable and every manifest survives until
    * `vacuum`, so any retained snapshot reads with zero extra storage
    * cost (the lakehouse read side of this format). Throws if `version`
    * was never committed or has been vacuumed. */
  def readAt(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType,
      version: Long): DataFrame = {
    val p = new Path(s"$root/manifest/m$version")
    require(fsOf(spark, p).exists(p),
      s"no committed manifest m$version under $root (vacuumed?)")
    readManifestState(spark, root, schema,
      Some(readManifest(spark, root, version)))
  }

  /** Schema-less time travel: the snapshot under the schema ITS OWN
    * manifest recorded — travel across a schema evolution shows each
    * version with the columns it actually had. */
  def readAt(spark: SparkSession, root: String, version: Long): DataFrame = {
    val p = new Path(s"$root/manifest/m$version")
    require(fsOf(spark, p).exists(p),
      s"no committed manifest m$version under $root (vacuumed?)")
    val m = readManifest(spark, root, version)
    val schema = schemaOf(m).getOrElse(throw new IllegalArgumentException(
      s"manifest m$version at $root records no schema (pre-format-7) — " +
        "pass the schema explicitly"))
    readManifestState(spark, root, schema, Some(m))
  }

  /** Row count answered from MANIFEST METADATA wherever possible — the
    * aggregate-pushdown read every lakehouse needs (`SELECT count(*)`
    * must not scan 100 TB): buckets whose single live file's recorded
    * row count is exact answer with ZERO data reads — on an
    * all-compacted table the whole count comes from the manifest.
    * Buckets carrying delta files reconcile and count for real (their
    * per-file counts overcount superseded keys), so the data cost
    * tracks un-compacted deltas only. Always equals `read().count()`. */
  def countRows(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType): Long =
    countRows(spark, root, schema, currentManifest(spark, root))

  /** [[countRows]] against an explicit snapshot — the aggregate-
    * pushdown scan counts time-travelled versions through this. */
  private[store] def countRows(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      manifest: Option[Manifest]): Long =
    manifest match {
      case None => 0L
      case Some(m) =>
        val (multi, single) = m.entries.groupBy(_.bucket).values.toSeq
          .partition(es => es.size > 1 || es.exists(_.tomb))
        val metaCount = single.flatten.map(_.rows).sum
        val deltaCount =
          if (multi.isEmpty) 0L
          else reconciledRead(spark, root, schema, m, multi.flatten,
            m.keyColumn, recordedKey(m)).count()
        metaCount + deltaCount
    }

  /** Schema-less [[countRows]] over a self-describing table. */
  def countRows(spark: SparkSession, root: String): Long =
    countRows(spark, root, requireSchema(spark, root))

  /** All committed snapshots, oldest first: (version, numBuckets,
    * rows) — the bounded metadata listing for `readAt` callers. `rows`
    * is the FILE-row total: exact live rows for all-compacted versions,
    * an upper bound when a version carries delta files (a delta-updated
    * key is counted in both its base and delta file) — [[countRows]]
    * gives the exact live count of the current version. */
  def versions(spark: SparkSession, root: String): Seq[(Long, Int, Long)] = {
    val dir = new Path(s"$root/manifest")
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter { n =>
        val v = n.stripPrefix("m")
        n.startsWith("m") && v.nonEmpty && v.forall(_.isDigit)
      }
      .map(_.stripPrefix("m").toLong).sorted
      .map { v =>
        val m = readManifest(spark, root, v)
        (v, m.numBuckets, m.entries.map(_.rows).sum)
      }
  }

  /** The newest committed version AS OF `tsMillis` (commit time = the
    * manifest file's mtime, the same clock [[expireHistory]] and
    * [[vacuum]]'s age window read — canonicalized MONOTONIC in version
    * order): the `TIMESTAMP AS OF` resolution.
    * Fails loudly when the timestamp predates the oldest RETAINED
    * version — never silently serves a later state than asked for. */
  def versionAtTime(spark: SparkSession, root: String,
      tsMillis: Long): Long = {
    val stamped = commitTimes(spark, root)
    require(stamped.nonEmpty, s"no committed versions at $root")
    val at = stamped.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"no version at $root committed at or before $tsMillis — the " +
        s"oldest retained version ${stamped.head._1} was committed " +
        s"at ${stamped.head._2} (vacuumed older, or the timestamp " +
        "predates the table)")
    at.maxBy(_._1)._1
  }

  /** (version, effective commit time) for every committed manifest,
    * oldest first, with times canonicalized MONOTONIC in version order:
    * effectiveTime(v) = max(mtime(v), effectiveTime(v-1)). Raw file
    * mtimes are NOT monotonic under multi-writer clock skew or
    * object-store timestamp granularity — a later version carrying an
    * earlier mtime would make `TIMESTAMP AS OF` resolution inconsistent
    * with version order (time travel to t could skip a version that was
    * current at t), and [[vacuum]]'s retainMillis window could retain
    * an OLDER version while dropping a newer one. The running-max
    * carry is the Delta/Iceberg commit-timestamp canonicalization. */
  private def commitTimes(spark: SparkSession, root: String)
      : Seq[(Long, Long)] = {
    val dir = new Path(s"$root/manifest")
    val fs = fsOf(spark, dir)
    require(fs.exists(dir), s"no manifest table at $root")
    val raw = fs.listStatus(dir).toSeq
      .map(st => (st.getPath.getName, st.getModificationTime))
      .collect { case (n, t)
          if n.startsWith("m") && n.drop(1).nonEmpty &&
            n.drop(1).forall(_.isDigit) =>
        (n.drop(1).toLong, t)
      }
      .sortBy(_._1)
    var carry = Long.MinValue
    raw.map { case (v, t) =>
      carry = math.max(carry, t)
      (v, carry)
    }
  }

  private val SeqCol = "__graft_seq"

  private def emptyFrame(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** Renders `keyComparator(col(keyColumn))` as re-parseable SQL for the
    * manifest's `keyExpr` field: Some("") for the identity comparator,
    * Some(sql) when the comparator is a built-in expression tree that
    * parses back, None when it cannot be recorded (a Scala-UDF
    * comparator's SQL would not round-trip). The recorded SQL is what
    * lets a bare `read()`/`readAt()`/SQL table function reconcile delta
    * files in NORMALIZED key space without being handed the comparator
    * function — a raw-key reconcile is unsound when raw keys differ
    * under a normalizing comparator (an update's delta row carries the
    * SOURCE raw key, so the stale base row would survive the anti-join
    * AND the delta row would too: duplicate normalized keys). */
  private def comparatorSql(
      df: DataFrame,
      keyColumn: String,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ScalaUDF}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val probe = df.limit(0)
    def analyzed(c: org.apache.spark.sql.Column)
        : org.apache.spark.sql.catalyst.expressions.Expression =
      probe.select(c).queryExecution.analyzed match {
        case Project(Seq(a: Alias), _) => a.child
        case Project(Seq(e), _) => e
        case other => throw new IllegalStateException(
          s"unexpected probe plan: $other")
      }
    scala.util.Try {
      analyzed(keyComparator(col(keyColumn))) match {
        case a: AttributeReference if a.name == keyColumn => ""
        case e =>
          require(e.deterministic && !e.exists(_.isInstanceOf[ScalaUDF]),
            "comparator has no recordable SQL form")
          val sql = e.sql
          // Round-trip NOW: recording SQL that fails to parse or
          // re-resolve would brick every delta read of this table.
          probe.select(org.apache.spark.sql.functions.expr(sql))
            .queryExecution.analyzed
          sql
      }
    }.toOption
  }

  private def schemaOf(m: Manifest): Option[org.apache.spark.sql.types.StructType] =
    if (m.schemaJson.isEmpty) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Physical (on-file) name of a logical column — the column-mapping
    * lookup ([[Manifest.colMap]]); identity for unrenamed columns and
    * every pre-format-10 table. */
  private[store] def physicalOf(m: Manifest, name: String): String =
    m.colMap.collectFirst { case (l, p) if l == name => p }.getOrElse(name)

  /** A caller-facing (logical-named) schema renamed into the space the
    * data files store — what the parquet reader and the bucket writers
    * must see. No-op without recorded renames. */
  private[store] def toPhysicalSchema(
      m: Manifest,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    if (m.colMap.isEmpty) schema
    else org.apache.spark.sql.types.StructType(
      schema.fields.map(f => f.copy(name = physicalOf(m, f.name))))

  /** The current manifest's recorded table schema (format 7+; None for
    * tables last written by an earlier format). With a recorded schema
    * the table is SELF-DESCRIBING: the schema-less [[read]]/[[readAt]]/
    * [[countRows]]/[[changes]] overloads, the 1-arg SQL table functions
    * and the CDC streaming source all derive their schema from it. */
  def recordedSchema(spark: SparkSession, root: String)
      : Option[org.apache.spark.sql.types.StructType] =
    currentManifest(spark, root).flatMap(schemaOf)

  private def requireSchema(spark: SparkSession, root: String)
      : org.apache.spark.sql.types.StructType =
    recordedSchema(spark, root).getOrElse(throw new IllegalArgumentException(
      s"table at $root records no schema (last written by a pre-format-7 " +
        "writer?) — pass the schema explicitly, or run any merge to " +
        "upgrade the manifest"))

  /** Add-only compatibility of a caller schema against the recorded one:
    * every recorded column must be present with its recorded type (an
    * operation that rewrites buckets under a schema missing a recorded
    * column would silently ERASE that column's values; a re-typed one
    * would corrupt them), and NEW columns are allowed only when
    * `allowAdd` (merge's opt-in `evolveSchema`; maintenance rewrites
    * pass true — materializing NULLs for a column a later merge added
    * is harmless). */
  private def checkSchemaCompatible(
      m: Manifest,
      schema: org.apache.spark.sql.types.StructType,
      op: String,
      allowAdd: Boolean): Unit =
    schemaOf(m).foreach { r =>
      val byName = schema.fields.map(f => f.name -> f.dataType).toMap
      val dropped = r.fields.filterNot(f => byName.contains(f.name))
      require(dropped.isEmpty,
        s"$op schema drops recorded column(s) " +
          dropped.map(_.name).mkString(", ") +
          " — schema evolution is add-only (a bucket rewrite under the " +
          "narrower schema would silently erase their values)")
      val conflicts =
        r.fields.filter(f => byName.get(f.name).exists(_ != f.dataType))
      require(conflicts.isEmpty,
        s"$op schema re-types recorded column(s): " +
          conflicts.map(f =>
            s"${f.name} ${f.dataType.sql} -> ${byName(f.name).sql}")
            .mkString(", ") +
          " — type changes need a new table (rewrite + swap)")
      val added = schema.fieldNames.filterNot(r.fieldNames.contains).toSeq
      if (added.nonEmpty && !allowAdd) throw new IllegalArgumentException(
        s"$op schema adds column(s) ${added.mkString(", ")} beyond the " +
          "table's recorded schema — pass evolveSchema = true to evolve " +
          "(existing rows read the new columns as NULL)")
      checkPhysicalCollision(m, schema, op)
    }

  /** A NEW column's physical name is its own (no fresh-name indirection
    * here), so it must not collide with the physical storage name of a
    * RENAMED or DROPPED column — existing files hold the old column's
    * values under that name and would leak them into the new column.
    * Refuse loudly; the caller picks another name (or adds then
    * renames onto it: a rename carries its own physical name, so the
    * collision never materializes). */
  private def checkPhysicalCollision(
      m: Manifest,
      schema: org.apache.spark.sql.types.StructType,
      op: String): Unit = {
    val claimed = m.colMap.filter { case (l, p) => l != p }.map(_._2).toSet
    val bad = schema.fieldNames.filter(n =>
      claimed.contains(n) && physicalOf(m, n) == n)
    require(bad.isEmpty,
      s"$op column name(s) ${bad.mkString(", ")} collide with the " +
        "PHYSICAL storage name of a renamed or dropped column " +
        "(existing files store the old column's values under that " +
        "name) — choose a different name")
  }

  /** The reconcile-key normalizer a manifest records: parses `keyExpr`
    * back to a column (resolved by name against whichever frame it is
    * applied to), or identity when none was recorded. */
  private def recordedKey(m: Manifest)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    if (m.keyExpr.isEmpty) identity
    else _ => org.apache.spark.sql.functions.expr(m.keyExpr)

  /** The comparator every key-matching operation must actually use: the
    * manifest-recorded normalizer when one exists (the caller may
    * legitimately hold only the identity default — SQL tooling and bare
    * maintenance calls cannot pass a Scala function), else the caller's.
    * Using the caller's identity default for bucket targeting or key
    * filters on a keyExpr-recorded table is UNSOUND: the buckets were
    * laid out by the normalized key, so a raw-key probe picks the wrong
    * bucket and a raw-key filter misses trim/case variants — a delete
    * that "succeeds" (commits its token) while erasing nothing. */
  private def effectiveKey(
      m: Manifest,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    if (m.keyExpr.nonEmpty) recordedKey(m) else keyComparator

  /** The table's bucket-assignment expression over a normalized key
    * column: `pmod(hash(norm(key)), n)` for hash-layout tables (the
    * default), or — when the manifest records RANGE boundaries — the
    * count of boundaries ≤ the key's string rendering (a searchsorted
    * over `numBuckets - 1` sorted boundary literals, codegen-friendly).
    * Range layout keeps each bucket a contiguous slice of the rendered
    * key space, so the per-file min/max stats become TIGHT and a range
    * predicate prunes to the overlapping buckets only ([[lookupRange]]);
    * the price is that layout quality depends on creation-time
    * boundaries (rebucket to re-balance). A NULL key renders NULL and
    * lands in bucket 0 (matching no range probe, like the hash layout's
    * seed bucket). */
  private def bucketExpr(
      numBuckets: Int, rangeBounds: Seq[String],
      norm: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (rangeBounds.isEmpty) pmod(hash(norm), lit(numBuckets))
    else {
      val rendered = norm.cast("string")
      coalesce(size(filter(
        array(rangeBounds.map(lit): _*), b => rendered >= b)), lit(0))
    }

  /** LEAF-bucket assignment under the table's split tree (format 13 —
    * see [[Manifest.splits]]): the creation-time bucket is the trie
    * root; a key descends while its current node is split, taking the
    * child its own hash bits select. Node values are computed so that
    * the child of node x at depth d is `x` or `x + numBuckets·2^d`:
    *   - hash layout: the node at depth d is pmod(hash(norm),
    *     numBuckets·2^d) — the linear-hashing address, which agrees
    *     with [[bucketExpr]] at depth 0 and refines it one bit per
    *     level;
    *   - range layout: parent + numBuckets·pmod(hash(norm), 2^d) — the
    *     range bucket keeps ordering the PARENT space (range pruning
    *     stays bucket-contiguous at parent granularity) and the hash
    *     supplies the sub-bits.
    * Live leaf values are globally unique (a binary trie's frontier is
    * prefix-free, and values of different parents differ mod
    * numBuckets), so everything keyed by `FileEntry.bucket` — touched-
    * bucket partitions, probes, compaction, the change feed — works on
    * leaf values verbatim. A table with no splits gets [[bucketExpr]]
    * back unchanged (identical plan, zero cost). */
  private[graft] def leafExpr(
      numBuckets: Int, rangeBounds: Seq[String], splits: Seq[(Int, Int)],
      norm: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val parent = bucketExpr(numBuckets, rangeBounds, norm)
    if (splits.isEmpty) parent
    else {
      val h = hash(norm)
      def at(d: Int): org.apache.spark.sql.Column =
        if (rangeBounds.isEmpty)
          pmod(h.cast("long"), lit(numBuckets.toLong << d)).cast("int")
        else parent + lit(numBuckets) * pmod(h, lit(1 << d))
      val byDepth = splits.groupBy(_._2)
      val maxD = splits.map(_._2).max
      var e = parent
      for (d <- 0 to maxD) {
        val vals = byDepth.getOrElse(d, Nil).map(_._1)
        if (vals.nonEmpty)
          e = when(e.isin(vals.map(Integer.valueOf): _*), at(d + 1))
            .otherwise(e)
      }
      e
    }
  }

  private[store] def leafExpr(m: Manifest,
      norm: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    leafExpr(m.numBuckets, m.rangeBounds, m.splits, norm)

  /** Depth of live leaf `leaf` in the split tree — the walk from its
    * creation-time root, descending along `leaf`'s own address bits.
    * Refuses a value that is not a live leaf (an internal split node,
    * or an address no split produced). */
  private[store] def leafDepth(m: Manifest, leaf: Int): Int = {
    val splitSet = m.splits.toSet
    var x = ((leaf % m.numBuckets) + m.numBuckets) % m.numBuckets
    var d = 0
    while (splitSet.contains((x, d))) {
      val mod = m.numBuckets.toLong << (d + 1)
      x = (leaf.toLong % mod).toInt
      d += 1
    }
    require(x == leaf,
      s"bucket $leaf is not a live leaf of the split tree " +
        s"(numBuckets ${m.numBuckets}, splits ${m.splits})")
    d
  }

  /** Probe keys normalized under [[effectiveKey]]: returns
    * (bucket, normalizedValue) per key, computed by Spark itself so the
    * normalization is exactly the one the table's layout used. The
    * recorded keyExpr resolves BY NAME, so the probe frame exposes each
    * literal under the key column's name. Bounded by |keys|. */
  /** Probe-count threshold below which probe predicates inline as
    * literal `isin` lists (which push down to parquet row-group
    * pruning); above it the plan switches to broadcast semi-/anti-
    * joins against a [[probeFrame]] — N literal expression nodes cost
    * the ANALYZER O(N) per query (measured: ~22 s of pure planning at
    * 100k literals vs ~2 s of execution), while a LocalRelation of the
    * same keys is one plan node at any size, and at that probe count
    * an In pushdown prunes nothing anyway. */
  private val InlineProbeLimit = 1000

  /** The probe keys as ONE LocalRelation (single plan node regardless
    * of key count), typed off the first key the way `lit` would. */
  private def probeFrame(
      spark: SparkSession, colName: String, keys: Seq[Any]): DataFrame = {
    val dt =
      org.apache.spark.sql.catalyst.expressions.Literal(keys.head).dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(colName, dt,
        nullable = true)))
    spark.createDataFrame(
      java.util.Arrays.asList(
        keys.map(k => org.apache.spark.sql.Row(k)): _*), schema)
  }

  /** (bucket, normalized key, rendered string) per probe key — one
    * local query over ONE [[probeFrame]], Spark-computed so the bucket
    * targeting, the value the final predicate compares, and the string
    * the manifest range stats compare against can never drift from
    * what the write path computed. */
  /** The hash/range buckets `keys` target under the table's recorded
    * layout and comparator — the bucket face of [[normalizedProbes]]
    * for plan/maintenance machinery (the index discovery hints). */
  private[store] def keyBuckets(
      spark: SparkSession, m: Manifest, keys: Seq[Any]): Set[Int] =
    normalizedProbes(spark, m, m.keyColumn, keys, identity)
      .map(_._1).toSet

  private def normalizedProbes(
      spark: SparkSession,
      m: Manifest,
      keyColumn: String,
      keys: Seq[Any],
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : Seq[(Int, Any, String)] = {
    if (keys.isEmpty) return Nil
    val cmp = effectiveKey(m, keyComparator)
    probeFrame(spark, keyColumn, keys)
      .select(leafExpr(m, cmp(col(keyColumn))).as("b"),
        cmp(col(keyColumn)).as("k"),
        cmp(col(keyColumn)).cast("string").as("s"))
      .collect().map(r => (r.getInt(0), r.get(1), r.getString(2))).toSeq
  }

  /** Compiles the (bucket, rendered normalized string) probe projection
    * for [[GraftFileIndex]]'s plan-time pruning — the
    * [[normalizedProbes]] discipline, split in two phases for thread
    * safety: this builder runs the ANALYZER once (at relation
    * construction, on a thread where analysis is legal) and returns a
    * pure evaluator over catalyst-internal key values. `listFiles` is
    * invoked during scan planning AND execution (AQE stage threads,
    * `selectedPartitions`) — a Dataset built there deadlocks: the probe
    * analysis needs the SessionCatalog monitor, which a plan-time table
    * function (graft_refresh_view under resolution) can hold while
    * waiting on this very query. The evaluator touches no session
    * state; a fresh SafeProjection per call keeps it thread-safe.
    * Returns None when the projection cannot be built (then the index
    * simply does not prune — conservative). */
  private[store] def probeEvaluator(
      spark: SparkSession,
      numBuckets: Int,
      rangeBounds: Seq[String],
      splits: Seq[(Int, Int)],
      keyColumn: String,
      keyType: org.apache.spark.sql.types.DataType,
      cmp: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : Option[Seq[Any] => Seq[(Int, String)]] = scala.util.Try {
    import org.apache.spark.sql.catalyst.expressions.{
      BindReferences, GenericInternalRow, SafeProjection}
    import org.apache.spark.sql.catalyst.plans.logical.{
      LocalRelation, Project}
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(keyColumn, keyType))))
    val proj = empty.select(
      leafExpr(numBuckets, rangeBounds, splits,
        cmp(col(keyColumn))).as("b"),
      cmp(col(keyColumn)).cast("string").as("s"))
    proj.queryExecution.analyzed match {
      case Project(exprs, l: LocalRelation) =>
        val bound = exprs.map(BindReferences.bindReference(_, l.output))
        (values: Seq[Any]) => {
          val p = SafeProjection.create(bound)
          values.map { v =>
            val r = p(new GenericInternalRow(Array[Any](v)))
            (r.getInt(0),
              if (r.isNullAt(1)) null else r.getUTF8String(1).toString)
          }
        }
      case other => throw new IllegalStateException(
        s"unexpected probe plan shape: $other")
    }
  }.toOption

  /** Reads `entries` reconciled to the LIVE row per key: buckets with a
    * single file scan directly (zero overhead — the all-compacted fast
    * path is a plain parquet union, the same plan as before deltas
    * existed); buckets carrying delta files resolve last-version-wins as
    * an ANTI-JOIN CHAIN down the seq levels: each level keeps the rows
    * whose key no HIGHER level overrode. The base level — virtually all
    * of the data — therefore never aggregates and never shuffles: it
    * anti-joins the accumulated DELTA key set, which is batch-sized and
    * broadcasts (levels are bounded by the compaction cadence). A
    * per-key max_by aggregate here would sort-shuffle the entire touched
    * fragment instead. NULL-keyed rows (create-bootstrap only — a merge
    * never writes them, so every delta row has a key) survive naturally:
    * a NULL key matches nothing in an anti-join. The reconcile must run
    * in NORMALIZED key space whenever the table's comparator is not
    * identity (an update's delta row carries the source's RAW key, which
    * may differ from the base row's raw key under e.g. a trim/lower
    * comparator): read paths pass the manifest-recorded `keyExpr`
    * normalizer ([[recordedKey]]), callers holding the mapping pass its
    * comparator directly. */
  private def reconciledRead(
      spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType,
      m: Manifest,
      entries: Seq[FileEntry],
      keyColumn: String,
      reconcileKey: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity): DataFrame = {
    if (entries.isEmpty) return emptyFrame(spark, schema)
    // A bucket carrying a tombstone must reconcile even if the
    // tombstone is somehow its only file (nothing to emit, but the
    // plain path would scan the tomb file as data).
    val (multi, single) = entries.groupBy(_.bucket).values.toSeq
      .partition(es => es.size > 1 || es.exists(_.tomb))
    // Every file set becomes a relation through the manifest-backed
    // native scan (GraftScan/GraftFileIndex): planning stats and
    // FileStatuses come from the manifest, key predicates prune files at
    // plan time, and provably Spark-bucketed layouts report a BucketSpec.
    val plain =
      if (single.isEmpty) None
      else Some(GraftScan.frame(spark, root, m, single.flatten, schema,
        reconcileKey))
    val reconciled =
      if (multi.isEmpty) None
      else {
        require(keyColumn.nonEmpty,
          "bucket has delta files but the manifest records no key column")
        // Tombstone files ride the same last-seq-wins chain as data
        // deltas — their keys override every lower level — but emit no
        // rows: a deleted key simply has no survivor. They are read
        // under a KEY-ONLY schema (the files hold nothing else), and
        // their stored keys are RAW (table key type), so the same
        // reconcileKey normalization applies to them as to data rows.
        val keyOnly = org.apache.spark.sql.types.StructType(
          schema.fields.filter(_.name == keyColumn))
        val levels = multi.flatten.groupBy(_.seq).toSeq.sortBy(-_._1)
          .map { case (_, es) =>
            val (tombs, datas) = es.partition(_.tomb)
            (if (datas.isEmpty) None
             else Some(GraftScan.frame(spark, root, m, datas, schema,
               reconcileKey)),
             if (tombs.isEmpty) None
             else Some(GraftScan.frame(spark, root, m, tombs, keyOnly,
               reconcileKey)))
          }
        // keys are table-unique, so the chain is safe across buckets; the
        // override key set only ever accumulates DELTA levels (small) —
        // the base level is last and contributes no keys to anything.
        var overridden: Option[DataFrame] = None
        val parts = levels.zipWithIndex.flatMap { case ((data, tomb), i) =>
          val out = data.map { lvl =>
            overridden match {
              case None => lvl
              case Some(hk) =>
                lvl.join(hk, reconcileKey(lvl(keyColumn)) === hk("_hk"),
                  "left_anti")
            }
          }
          if (i < levels.size - 1) {
            val contrib = (data.toSeq ++ tomb.toSeq).map(_
              .select(reconcileKey(col(keyColumn)).as("_hk"))
              .filter(col("_hk").isNotNull))
            if (contrib.nonEmpty) {
              val lvlKeys = contrib.reduce(_ unionByName _).distinct()
              overridden = Some(overridden
                .map(_.unionByName(lvlKeys).distinct()).getOrElse(lvlKeys))
            }
          }
          out
        }
        if (parts.isEmpty) None else Some(parts.reduce(_ unionByName _))
      }
    (plain, reconciled) match {
      case (Some(p), Some(r)) => p.unionByName(r)
      case (Some(p), None) => p
      case (None, Some(r)) => r
      case _ => emptyFrame(spark, schema)
    }
  }

  private def readManifestState(
      spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType,
      manifest: Option[Manifest]): DataFrame =
    manifest match {
      case Some(m) if m.entries.nonEmpty =>
        reconciledRead(spark, root, schema, m, m.entries, m.keyColumn,
          recordedKey(m))
      case _ => emptyFrame(spark, schema)
    }

  /** No-overwrite commit of manifest `m` via temp-write + rename: returns
    * false when another writer already committed this version — the OCC
    * conflict signal; the caller cleans up its attempt and retries
    * against the new current state. The temp file is attempt-named so
    * racing writers never collide pre-commit either. */
  private def tryCommitManifest(
      spark: SparkSession, root: String, m: Manifest): Boolean = {
    val body = (s"graft-manifest 13" +:
      Seq(
        m.numBuckets.toString,
        m.lastBatches.toSeq.sortBy(_._1)
          .map { case (s, b) => s"${enc(s)}:$b" }.mkString(","),
        m.lastDelete.map(_.toString).getOrElse(""),
        m.sideId,
        enc(m.keyColumn),
        enc(m.keyExpr),
        m.lastCompact.map(_.toString).getOrElse(""),
        m.rangeBounds.map(enc).mkString(","),
        enc(m.schemaJson),
        if (m.udfKey) "1" else "0",
        enc(m.clusterCol),
        m.colMap.map { case (l, p) => s"${enc(l)}=${enc(p)}" }
          .mkString(","),
        m.splits.map { case (v, d) => s"$v:$d" }.mkString(","))
        .mkString("\t") +:
      m.entries.sortBy(e => (e.bucket, e.seq)).map(e =>
        s"${e.bucket}\t${e.rows}\t${enc(e.minKey)}\t${enc(e.maxKey)}\t" +
          s"${e.relPath}\t${e.seq}\t${e.bytes}\t" +
          s"${if (e.named) "1" else "0"}\t${enc(e.minZ)}\t${enc(e.maxZ)}" +
          s"\t${if (e.nullKeys) "1" else "0"}" +
          s"\t${if (e.sorted) "1" else "0"}" +
          s"\t${if (e.tomb) "1" else "0"}"))
      .mkString("", "\n", "\n")
    val dst = new Path(s"$root/manifest/m${m.version}")
    val tmp = new Path(s"$root/manifest/.tmp-m${m.version}-${m.sideId}")
    val fs = fsOf(spark, dst)
    fs.mkdirs(dst.getParent)
    // The atomic publish is delegated to the session's CommitFront:
    // no-overwrite rename by default, conditional-put (the S3
    // If-None-Match shape) via spark.graft.commitFront — the OCC
    // semantics (false = lost the race, re-read and retry) are the
    // front's contract, not this method's.
    val committed = CommitFront.of(spark).publish(fs, dst, tmp,
      body.getBytes(StandardCharsets.UTF_8), testBeforeCommit)
    // Declared sidecar upkeep rides the commit point itself: every
    // DATA commit of a table with an autoMaintain declaration
    // refreshes its zone/bloom sidecars incrementally (covered files
    // no-op). Tables without a declaration pay one fs.exists.
    if (committed && m.entries.nonEmpty)
      maintainSidecars(spark, root, m)
    committed
  }

  /** Removes everything a LOSING attempt wrote before its failed commit —
    * its own attempt-named directories only, never committed files. */
  private def cleanupAttempt(spark: SparkSession, root: String,
      version: Long, attempt: String): Unit =
    Seq(s"data/v$version-$attempt", s"history/v$version-$attempt",
        s"stats/v$version-$attempt").foreach { rel =>
      val p = new Path(s"$root/$rel")
      val fs = fsOf(spark, p)
      if (fs.exists(p)) fs.delete(p, true)
    }

  /** Writes `df`'s rows bucketed under `data/<dataDirName>` and returns
    * one FileEntry per written file, its stats observed inside the write
    * job. This is the ONE funnel every bucket-writing operation shares —
    * create, replace, merge, the DML rewrites and the layout rewrites
    * (clusterBy, zOrderBy, recluster). `numTasks` sizes the write
    * exchange to the data actually being written, and `cluster` picks
    * the layout:
    * - None: a hash exchange on the bucket — a micro-batch touching 3
    *   buckets runs 3 write tasks, a full-table bootstrap one per
    *   bucket — and each bucket is ONE key-sorted file.
    * - Some(c): `repartitionByRange(numTasks, bucket, c)`. The split
    *   needs no quantile pass: the exchange samples its own boundaries,
    *   partitions are contiguous in (bucket, c) order, and the
    *   `partitionBy(bucket)` write cuts any bucket-spanning partition at
    *   the bucket edge — so within a bucket, file c-ranges are disjoint
    *   by construction, which is exactly what per-file zone maps need
    *   to prune. Its entries are `sorted`, the drift signal
    *   [[recluster]] reads. */
  private def writeBuckets(
      df: DataFrame,
      bucket: org.apache.spark.sql.Column,
      keyColumn: String,
      root: String,
      dataDirName: String,
      numTasks: Int,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity,
      seq: Long = 0L,
      colMap: Seq[(String, String)] = Nil,
      cluster: Option[org.apache.spark.sql.Column] = None): Seq[FileEntry] = {
    val spark = df.sparkSession
    val dataDir = s"$root/data/$dataDirName"
    // Column mapping: files ALWAYS store the physical names, so a
    // post-rename rewrite stays name-compatible with every older file.
    // The rename is a final narrow projection — after the in-task sort,
    // which it preserves.
    def toPhys(name: String): String =
      colMap.collectFirst { case (l, p) if l == name => p }.getOrElse(name)
    val physNames = df.schema.fieldNames.toSeq.map(toPhys)
    def physicalize(sorted: DataFrame): DataFrame =
      if (colMap.isEmpty) sorted
      else sorted.select((df.schema.fieldNames.toSeq.map(n =>
        col(n).as(toPhys(n))) :+ col(BucketCol)): _*)
    // DECLARED CHECK CONSTRAINTS ([[addConstraint]]) guard this one
    // funnel every row-producing writer shares: each check evaluates
    // inline per row (a codegen'd predicate — no extra pass, no extra
    // job) and the first violating row fails the write LOUDLY, before
    // anything commits, naming the constraint and printing the row.
    // SQL CHECK semantics: NULL passes, only FALSE violates. A check
    // that does not RESOLVE against this frame skips: key-only
    // tombstone writes carry no payload columns to check, and
    // declaration-time validation already covered every committed row.
    val guarded = {
      val cs = constraintsOf(spark, root)
      if (cs.isEmpty) df
      else cs.toSeq.sortBy(_._1).foldLeft(df) { case (d, (cname, sql)) =>
        val resolves =
          try { d.limit(0).filter(expr(sql)); true }
          catch { case _: org.apache.spark.sql.AnalysisException => false }
        if (!resolves) d
        else d.filter(
          when(coalesce(expr(sql), lit(true)), lit(true))
            .otherwise(raise_error(concat(
              lit(s"graft CHECK constraint '$cname' ($sql) violated " +
                "by row: "),
              to_json(struct(d.columns.map(col): _*))))))
      }
    }
    // Stats in NORMALIZED key space — the space lookup() renders its
    // probe keys in; raw-key stats would wrongly prune a file when the
    // comparator changes rendering (e.g. lower("Foo") vs "foo").
    // Numeric-family keys additionally record ORDER-TRUE zone stats
    // (minZ/maxZ — the lexical strings can't serve ranges: "10" < "9")
    // so GraftFileIndex can prune numeric BETWEEN/>/< at plan time.
    // Computed INSIDE the write job via observe ([[WriteStatsAgg]]):
    // no post-commit readback job, no re-read of the bytes just written.
    // Both aggregates group by FILE: `maxRecordsPerFile` is off and each
    // task's rows arrive sorted by bucket, so every (task, bucket) pair
    // is exactly one part file ([[WriteStatsAgg.fileKey]]).
    val kc = col(keyColumn)
    val norm = keyComparator(kc)
    // normalized key TYPE: identity comparators (`f(c) eq c` — the
    // common case) read it straight off the schema; only a real
    // normalizer pays the analyzer pass, which would otherwise tax
    // EVERY commit ~tens of ms
    val normDt =
      if (norm eq kc) df.schema(keyColumn).dataType
      else df.limit(0).select(norm).schema.head.dataType
    val zoneCol = ZoneSkip.keyRendered(norm, normDt)
    val obs = org.apache.spark.sql.Observation()
    val statsCol = B.column(WriteStatsAgg(
        B.expression(col(BucketCol).cast("long")),
        B.expression(norm.cast("string")),
        B.expression(zoneCol.getOrElse(lit(null))),
        B.expression(when(kc.isNull || norm.isNull, lit(1))
          .otherwise(lit(0))))
      .toAggregateExpression()).as("stats")
    // Declared NON-KEY zone columns present in this frame: per-file
    // min/max ride the SAME observe (ZoneStatsAgg), so the post-commit
    // sidecar hook consumes write-time offers instead of re-reading the
    // bytes just written (guide §6 — the WriteStatsAgg discipline
    // extended to the zone sidecars). Policy lookup is one fs.exists on
    // undeclared tables and a fingerprint-memoized read on declared
    // ones. Best-effort: a failure only skips the offers, and the build
    // falls back to its scan.
    val zoneOfferCols: Seq[(String, String)] =
      try maintenanceOf(spark, root).toSeq.flatMap(_.zones).distinct
        .filter(df.columns.contains)
        .flatMap(c => scala.util.Try(
          ZoneSkip.kindOf(df.schema(c).dataType)).toOption.map(c -> _))
      catch {
        case scala.util.control.NonFatal(e) =>
          storeLog.warn(s"graft write at $root: zone policy lookup " +
            "failed, zone sidecars will be rebuilt by a scan", e)
          Nil
      }
    val zstatsCol =
      if (zoneOfferCols.isEmpty) Nil
      else Seq(B.column(ZoneStatsAgg(
          B.expression(col(BucketCol).cast("long")),
          zoneOfferCols.map { case (c, _) => B.expression(
            ZoneSkip.rendered(col(c), df.schema(c).dataType)) },
          zoneOfferCols.map(p => ZoneSkip.kindCode(p._2)))
        .toAggregateExpression()).as("zstats"))
    // Sorted within each file — by the key on the hash layout, so
    // parquet row-group min/max stats stratify the key space and the
    // pruned point lookups skip row groups within a file, not just
    // files (and sorted columns compress better); by the cluster
    // expression on a cluster layout. Costs one in-task sort at write;
    // changes no semantics (readers never assume order).
    val bucketed = guarded.withColumn(BucketCol, bucket)
    val laidOut = cluster match {
      case None =>
        bucketed.repartition(math.max(1, numTasks), col(BucketCol))
          .sortWithinPartitions(col(BucketCol), norm)
      case Some(c) =>
        bucketed.repartitionByRange(math.max(1, numTasks), col(BucketCol), c)
          .sortWithinPartitions(col(BucketCol), c)
    }
    graft.helpers.JobLabel.withDesc(spark, s"graft.write $dataDir") {
      physicalize(laidOut.observe(obs, statsCol, zstatsCol: _*))
        .write.partitionBy(BucketCol).option("maxRecordsPerFile", 0L)
        .mode("overwrite").parquet(dataDir)
    }
    // Stamp every part file with Spark's bucket-id name suffix
    // (`_<bucket>%05d` before the first extension dot — the exact
    // convention `BucketingUtils` parses) and capture its byte size:
    // bucket-id names let the read side report a real `BucketSpec`
    // (co-bucketed joins and groupBy(key) with no Exchange; many files
    // per bucket is the normal bucketed-table shape, so clustering keeps
    // it), and manifest-recorded file paths + sizes let scan PLANNING
    // synthesize its FileStatuses from the manifest alone — zero
    // listStatus calls against a 400k-bucket table (GraftFileIndex). The
    // rename is a metadata op on HDFS/ABFS-class stores; on raw S3 it is
    // a copy — front the table with a rename-capable store, as the
    // manifest commit already requires. A failed rename keeps the
    // unstamped name AND forfeits the entry's `named` claim: named=true
    // on an unstamped file would make GraftScan report a BucketSpec
    // whose bucketed read throws "Invalid bucket file" on that name.
    val dataPath = new Path(dataDir)
    val fs = fsOf(spark, dataPath)
    def stampBucket(d: org.apache.hadoop.fs.FileStatus): Seq[WrittenFile] = {
      val k = d.getPath.getName.stripPrefix(s"$BucketCol=").toInt
      val relDir = s"data/$dataDirName/$BucketCol=$k"
      fs.listStatus(d.getPath).toSeq.filter(s => s.isFile &&
          !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .map { f =>
          val name = f.getPath.getName
          val dot = name.indexOf('.')
          val stamped =
            if (dot < 0) f"${name}_$k%05d"
            else f"${name.substring(0, dot)}_$k%05d${name.substring(dot)}"
          if (fs.rename(f.getPath, new Path(d.getPath, stamped)))
            WrittenFile(k, stamped, s"$relDir/$stamped", f.getLen, true)
          else WrittenFile(k, name, s"$relDir/$name", f.getLen, false)
        }
    }
    val dirs =
      if (!fs.exists(dataPath)) Nil
      else fs.listStatus(dataPath).toSeq.filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(s"$BucketCol="))
    // The list+stamp loop is driver-side metadata RPC: ~nothing for an
    // incremental merge's few touched buckets, but a bootstrap/rebucket
    // touches EVERY bucket (400k at 100 TB) — run it on a bounded pool
    // so the commit isn't serialized on FS latency.
    val files: Seq[WrittenFile] =
      if (dirs.size <= 64) dirs.flatMap(stampBucket)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(32)
        try {
          import scala.jdk.CollectionConverters._
          pool.invokeAll(dirs.map(d =>
              new java.util.concurrent.Callable[Seq[WrittenFile]] {
                override def call() = stampBucket(d)
              }).asJava)
            .asScala.flatMap(_.get()).toSeq
        } finally pool.shutdown()
      }
    // Observed group -> committed file, through the writer's task id in
    // the part-file name. Sound only when every file parses and the
    // mapping is a bijection with the observed groups; anything else
    // takes the readback below — old cost, never a wrong manifest.
    val byGroup: Map[Long, WrittenFile] = files.flatMap(f =>
      partIdOf(f.name).map(t => WriteStatsAgg.fileKey(t, f.bucket) -> f))
      .toMap
    val obsRow = if (testDropObservation) None else WriteStats.awaitRow(obs)
    val observed: Either[String, Map[Long, WriteStatsAgg.Group]] =
      obsRow.toRight("the write's observed stats never arrived")
        .flatMap(r => scala.util.Try(
            WriteStatsAgg.decode(r.get(r.fieldIndex("stats"))))
          .toEither.left.map(e => s"undecodable observed stats ($e)"))
        .filterOrElse(g => byGroup.size == files.size &&
            g.keySet == byGroup.keySet,
          "observed stats do not map one-to-one onto the written files")
    observed match {
      case Right(groups) =>
        // Park write-time zone offers for the post-commit sidecar build
        // (best-effort: a lost race's relPaths never match a live entry).
        if (zoneOfferCols.nonEmpty) obsRow.foreach { r =>
          try {
            val z = ZoneStatsAgg.decode(r.get(r.fieldIndex("zstats")))
            ZoneSkip.offerZones(root, z.toSeq.flatMap { case (g, triples) =>
              byGroup.get(g).toSeq.flatMap(f => zoneOfferCols.zip(triples)
                .map { case ((c, kind), (mn, mx, nn)) =>
                  org.apache.spark.sql.Row(f.relPath, c, kind, mn, mx, nn)
                })
            })
          } catch {
            case scala.util.control.NonFatal(e) =>
              storeLog.warn(s"graft write at $root: undecodable zone " +
                "offers, zone sidecars will be rebuilt by a scan", e)
          }
        }
        groups.toSeq.map { case (g, st) =>
          val f = byGroup(g)
          FileEntry(f.bucket, st.rows, st.minKey, st.maxKey, f.relPath, seq,
            f.bytes, f.named, st.minZ, st.maxZ, nullKeys = st.nullK,
            sorted = cluster.isDefined)
        }
      case Left(why) =>
        // The readback of the committed files, per file. Explicit schema
        // (+ the partition column) so an all-rows-rejected empty write
        // doesn't fail schema inference; physical names on disk, back
        // to LOGICAL names for the stats frame (a recorded keyExpr
        // comparator resolves logically).
        storeLog.warn(s"graft write at $root: $why; reading the " +
          s"${files.size} written files back for their stats")
        val writtenSchema = org.apache.spark.sql.types.StructType(
          df.schema.fields.zip(physNames).map { case (f, p) =>
            f.copy(name = p) } :+ org.apache.spark.sql.types.StructField(
            BucketCol, org.apache.spark.sql.types.IntegerType))
        val rbRaw = spark.read.schema(writtenSchema)
          .option("basePath", dataDir).parquet(dataDir)
        val rb =
          if (colMap.isEmpty) rbRaw
          else rbRaw.select((df.schema.fieldNames.toSeq.zip(physNames).map {
            case (n, p) => col(p).as(n) } :+ col(BucketCol)): _*)
        val zoneAggs = zoneCol.toSeq.flatMap(zr =>
          Seq(min(zr).cast("string").as("minZ"),
            max(zr).cast("string").as("maxZ")))
        val byName = files.map(f => (f.bucket, f.name) -> f).toMap
        rb.groupBy(col(BucketCol),
            substring_index(input_file_name(), "/", -1))
          .agg(count(lit(1)).as("rows"),
            (Seq(min(norm.cast("string")).as("minKey"),
              max(norm.cast("string")).as("maxKey")) ++ zoneAggs :+
              max(when(kc.isNull || norm.isNull, lit(1)).otherwise(lit(0)))
                .as("nullK")): _*)
          .collect().toSeq
          .flatMap { r =>
            def str(c: String): String =
              if (!r.schema.fieldNames.contains(c)) ""
              else Option(r.getAs[String](c)).getOrElse("")
            byName.get((r.getInt(0), r.getString(1))).map(f =>
              FileEntry(f.bucket, r.getAs[Long]("rows"), str("minKey"),
                str("maxKey"), f.relPath, seq, f.bytes, f.named,
                str("minZ"), str("maxZ"),
                nullKeys = r.getAs[Int]("nullK") == 1,
                sorted = cluster.isDefined))
          }
    }
  }

  /** A part file [[writeBuckets]] committed, after its bucket-id stamp. */
  private final case class WrittenFile(
      bucket: Int, name: String, relPath: String, bytes: Long, named: Boolean)

  /** The write task id in a Spark part-file name, `part-<task>-<job>…`:
    * the task is formatted `%05d`, so it is five OR MORE digits, read
    * up to the next dash. The bucket-id stamp appends before the first
    * dot and leaves the prefix intact. */
  private[graft] def partIdOf(name: String): Option[Int] = {
    val end = name.indexOf('-', 5)
    if (!name.startsWith("part-") || end < 0) None
    else {
      val digits = name.substring(5, end)
      if (digits.isEmpty || !digits.forall(c => c >= '0' && c <= '9')) None
      else digits.toIntOption
    }
  }

  /** Bootstraps a table from existing data: buckets `df` on the key and
    * commits it as version 0. Fails if the table already exists (use
    * `merge` to amend) — including when a racing `create` wins version 0
    * first (no retry here: two bootstraps are a caller bug, not a merge
    * to reconcile). */
  /** `rangeBounds` (optional) lays the table out by RANGE instead of
    * hash: sorted boundary strings in the NORMALIZED-rendered key space
    * (`cast(norm(key) as string)`); bucket k holds keys in
    * [bounds(k-1), bounds(k)), so `numBuckets` must equal
    * `rangeBounds.size + 1`. Use it when range predicates on the key
    * must prune ([[lookupRange]]) — the rendered-string order must match
    * the key's semantic order (strings, ISO dates; zero-pad or otherwise
    * encode numerics via the comparator), which is REQUIRED here: the
    * key's normalized form must be a string type. */
  def create(
      df: DataFrame,
      keyColumn: String,
      root: String,
      numBuckets: Int = 16,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity,
      rangeBounds: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    require(currentVersion(spark, root).isEmpty, s"table exists at $root")
    if (rangeBounds.nonEmpty) {
      require(rangeBounds.size == numBuckets - 1,
        s"range layout needs numBuckets - 1 = ${numBuckets - 1} " +
          s"boundaries, got ${rangeBounds.size}")
      require(rangeBounds == rangeBounds.sorted,
        "range boundaries must be sorted")
      require(df.limit(0).select(keyComparator(col(keyColumn)))
          .schema.head.dataType ==
          org.apache.spark.sql.types.StringType,
        "range layout requires a STRING-typed normalized key (its " +
          "string rendering IS the range order; encode numerics " +
          "order-preservingly in the comparator)")
    }
    val attempt = newAttemptId()
    val bucket = bucketExpr(numBuckets, rangeBounds,
      keyComparator(col(keyColumn)))
    val entries = writeBuckets(df, bucket, keyColumn, root, s"v0-$attempt",
      numBuckets, keyComparator)
    val keyExprRec = comparatorSql(df, keyColumn, keyComparator)
    if (!tryCommitManifest(spark, root,
        Manifest(0L, numBuckets, entries, sideId = attempt,
          keyColumn = keyColumn,
          keyExpr = keyExprRec.getOrElse(""),
          rangeBounds = rangeBounds,
          schemaJson = df.schema.json,
          udfKey = keyExprRec.isEmpty))) {
      cleanupAttempt(spark, root, 0L, attempt)
      throw new java.util.ConcurrentModificationException(
        s"table concurrently created at $root")
    }
  }

  /** INSERT-OVERWRITE semantics: commits `df` as the table's new state
    * in ONE new version — no old bucket is read or rewritten (their
    * files stay live for time travel until `vacuum`), so the cost is
    * exactly the new data's write. Layout (bucket count, range bounds)
    * and the key comparator carry over from the existing table; the
    * recorded schema becomes `df`'s own (an overwrite rewrites nothing
    * old, so the add-only evolution guard — which protects REWRITES of
    * committed rows — does not apply; each retained version still reads
    * under its own schema). Creates the table when none exists. OCC:
    * conflicts retry against the new current state; stream replay
    * tokens and delete/compact tokens carry through untouched. */
  def replace(
      df: DataFrame,
      keyColumn: String,
      root: String,
      numBuckets: Int = 16,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity): Unit = {
    val spark = df.sparkSession
    while (true) {
      currentManifest(spark, root) match {
        case None =>
          try {
            create(df, keyColumn, root, numBuckets, keyComparator)
            return
          } catch {
            case _: java.util.ConcurrentModificationException => () // retry
          }
        case Some(prior) =>
          require(prior.keyColumn.isEmpty || prior.keyColumn == keyColumn,
            s"table at $root keys on '${prior.keyColumn}', not '$keyColumn'")
          val attempt = newAttemptId()
          val version = prior.version + 1
          val n = prior.numBuckets
          val cmp = effectiveKey(prior, keyComparator)
          val bucket = leafExpr(prior, cmp(col(keyColumn)))
          checkPhysicalCollision(prior, df.schema, "replace")
          // an overwrite may narrow the schema; keep only the mappings
          // its fields still need
          val cmap = prior.colMap.filter { case (l, _) =>
            df.schema.fieldNames.contains(l) }
          val written = writeBuckets(df, bucket, keyColumn, root,
            s"v$version-$attempt", n, cmp, seq = version, colMap = cmap)
          val keyExprRec = comparatorSql(df, keyColumn, cmp)
          if (tryCommitManifest(spark, root, Manifest(version, n, written,
              prior.lastBatches, prior.lastDelete, attempt, keyColumn,
              keyExprRec.getOrElse(prior.keyExpr), prior.lastCompact,
              prior.rangeBounds,
              recordableSchema(Some(prior), df.schema).json,
              keyExprRec.isEmpty || prior.udfKey,
              clusterCol = prior.clusterCol, colMap = cmap,
              splits = prior.splits)))
            return
          cleanupAttempt(spark, root, version, attempt)
      }
    }
  }

  /** One incremental MERGE of a projected source into the table.
    * `(streamId, batchId)` is the merge's IDEMPOTENCY TOKEN, not the
    * table version: foreachBatch passes its batchId (plus the checkpoint
    * identity as streamId, so a stream restarted on a FRESH checkpoint —
    * batchIds reset to 0 — is a new token, not a false replay); batch
    * callers pass any token different from THEIR OWN previous merge's.
    * If the token equals the current manifest's recorded batchId FOR THIS
    * streamId the call is the at-least-once re-delivery of the stream's
    * last committed batch and a NO-OP — exactly foreachBatch's replay
    * window (only the most recent batch is ever re-delivered), and
    * because the token is tracked per stream, an interleaved commit by
    * another writer can never make a replay look fresh. The table
    * version is internal and monotone
    * (`current + 1`), so a `create()` bootstrap at version 0 never
    * swallows the stream's batch 0. A commit conflict (another writer won
    * the version) retries the WHOLE merge against the new state. Returns
    * the entries rewritten (empty on replay).
    *
    * `delta = true` writes ONLY the batch's own (post-merge) rows as
    * per-bucket DELTA files and keeps the touched buckets' existing files
    * in the manifest — write cost proportional to the BATCH, not the
    * touched buckets, which is what a high-frequency micro-batch stream
    * needs when each batch grazes many large buckets. Readers reconcile
    * last-version-wins per key; run [[compact]] periodically to fold a
    * bucket's deltas back into one file (restoring zero-overhead scans).
    * `delta = false` (default) rewrites each touched bucket whole — the
    * right trade when batches are large relative to buckets, and reads
    * stay reconciliation-free. */
  def merge(
      projected: DataFrame,
      batchId: Long,
      mapping: Mapping,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      mode: ImportMode = CreateAndUpdate,
      nonNullable: Seq[String] = Nil,
      numBuckets: Int = 16,
      rejectWhen: Option[org.apache.spark.sql.Column] = None,
      recordStats: Boolean = false,
      streamId: String = "",
      delta: Boolean = false,
      evolveSchema: Boolean = false): Seq[FileEntry] = {
    val spark = projected.sparkSession
    // Record the comparator as SQL so bare reads reconcile deltas in
    // normalized-key space; a delta merge REQUIRES it (otherwise a later
    // read() would silently return duplicate keys — see comparatorSql).
    val keyExprRec =
      comparatorSql(projected, mapping.keyColumnName, mapping.keyComparator)
    if (delta) require(keyExprRec.isDefined,
      "merge(delta = true) needs a key comparator expressible as SQL " +
        "(built-in expressions only — a UDF comparator cannot be recorded " +
        "in the manifest for readers to reconcile delta files with)")
    while (true) {
      val prior = currentManifest(spark, root)
      if (prior.exists(_.lastBatches.get(streamId).contains(batchId)))
        return Nil
      // Schema evolution is ADD-ONLY against the recorded schema: a
      // merge may introduce new columns (opt-in — old rows read them as
      // NULL), but never drop or re-type recorded ones: the fragment
      // read under a narrower/changed schema would silently erase or
      // corrupt values on the rewrite.
      prior.foreach(m =>
        checkSchemaCompatible(m, schema, "merge", allowAdd = evolveSchema))
      val attempt = newAttemptId()
      val version = prior.map(_.version + 1).getOrElse(0L)
      // numBuckets is a TABLE property: fixed at creation, the parameter is
      // ignored once a manifest exists (a mismatch would scatter each key
      // across two bucket layouts).
      val n = prior.map(_.numBuckets).getOrElse(numBuckets)
      val key = mapping.keyColumnName
      // Like numBuckets, the range layout is a table property fixed at
      // creation — a merge carries it through.
      val bounds = prior.map(_.rangeBounds).getOrElse(Nil)
      val splits = prior.map(_.splits).getOrElse(Nil)
      val bucketOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        c => leafExpr(n, bounds, splits, mapping.keyComparator(c))
      // should_import rows (flagged by the pipeline) still flow through the
      // upsert — that's where they're counted — but must not mark buckets
      // touched: an all-ignored batch rewrites nothing.
      val ignore =
        if (projected.columns.contains(Mapping.IgnoreCol))
          Some(col(Mapping.IgnoreCol))
        else None

      // 1. touched buckets: bounded distinct over ≤ n values, never a key
      //    collect. Null-keyed source rows are dropped by the upsert, so
      //    they must not mark buckets either — and the null filter has to
      //    run BEFORE bucketing (hash(null) is the seed, not null, so a
      //    null key would otherwise always touch bucket pmod(seed, n)).
      val touched = graft.helpers.JobLabel.withDesc(spark,
          s"graft.merge $root v$version: touched-bucket scan") {
        ignore.foldLeft(projected)((df, c) =>
            df.filter(!coalesce(c, lit(false))))
          .filter(mapping.keyComparator(col(key)).isNotNull)
          .select(bucketOf(col(key)).as(BucketCol))
          .distinct().collect().map(_.getInt(0)).toSet
      }
      val (touchedEntries, untouched) =
        prior.map(_.entries).getOrElse(Nil).partition(e => touched(e.bucket))

      // 2-3. target fragment = touched buckets only (reconciled, in case
      // earlier delta merges left multi-file buckets); standard one-join
      // merge. The target READS under never-tightened nullability
      // (recordableSchema): the batch's own frame may carry a
      // non-nullable column (INSERT ... VALUES literals) that older
      // files don't have at all — reading them under the tightened
      // schema makes the vectorized parquet reader refuse the file.
      val fragment = reconciledRead(spark, root,
        recordableSchema(prior, schema),
        prior.getOrElse(Manifest(-1L, n, Nil)), touchedEntries,
        key, mapping.keyComparator)
      val res = Upsert(fragment, projected, mapping, mode, nonNullable,
        rejectWhen, ignore)
      val tracked = mapping.columns.exists(_._2.opts.keepHistory)
      val writesHistory = tracked && mode.canUpdate
      val multiOut = writesHistory || recordStats
      // merged/history/stats all derive from the ONE full-outer join; with
      // several consumers, persist it once instead of re-reading the
      // fragment and re-aggregating the source per output (UpsertResult's
      // own contract, Upsert.scala:20-23).
      if (multiOut) res.joined.persist()
      val committed =
        try {
          // 4-5. write ONLY the touched buckets under this attempt's
          //    directory (one file per bucket, its stats observed inside
          //    the write job — [[writeBuckets]]), then the atomic
          //    no-overwrite manifest swap. In delta mode just the batch's
          //    own post-merge rows are written (the semi-join keeps the
          //    batch-key rows of the merged fragment; Catalyst broadcasts
          //    the key side when the batch is small — the delta-mode
          //    premise) and the touched buckets' existing files stay live.
          val toWrite =
            if (!delta) res.merged
            else {
              val batchKeys = ignore.foldLeft(projected)((df, c) =>
                  df.filter(!coalesce(c, lit(false))))
                .filter(mapping.keyComparator(col(key)).isNotNull)
                .select(mapping.keyComparator(col(key)).as("_bk"))
                .distinct()
              res.merged.join(batchKeys,
                mapping.keyComparator(res.merged(key)) === batchKeys("_bk"),
                "left_semi")
            }
          val written = writeBuckets(toWrite, bucketOf(col(key)), key,
            root, s"v$version-$attempt", math.max(touched.size, 1),
            mapping.keyComparator, seq = version,
            colMap = prior.map(_.colMap).getOrElse(Nil))

          // keep_history rows and import stats are part of the same commit:
          // written under attempt-scoped directories BEFORE the manifest
          // rename, so the rename makes state + history + stats visible
          // together (the reference commits history in the same DB
          // transaction, importtask.py:313-344,:369-371). A replay skips the
          // whole merge, so history is never duplicated; the manifest
          // records this attempt's id, so a crashed or losing attempt's
          // side dirs can never become visible through someone else's
          // commit (see committedSideDirs).
          if (writesHistory)
            res.history.write.mode("overwrite")
              .parquet(s"$root/history/v$version-$attempt")
          if (recordStats)
            res.stats.write.mode("overwrite")
              .parquet(s"$root/stats/v$version-$attempt")

          val live = untouched ++
            (if (delta) touchedEntries else Nil) ++ written
          if (tryCommitManifest(spark, root,
              Manifest(version, n, live,
                prior.map(_.lastBatches).getOrElse(Map.empty) +
                  (streamId -> batchId),
                prior.flatMap(_.lastDelete),
                attempt, key,
                keyExprRec.getOrElse(
                  prior.map(_.keyExpr).getOrElse("")),
                prior.flatMap(_.lastCompact),
                bounds,
                recordableSchema(prior, schema).json,
                udfKey = keyExprRec.isEmpty ||
                  prior.exists(_.udfKey),
                clusterCol = prior.map(_.clusterCol).getOrElse(""),
                colMap = prior.map(_.colMap).getOrElse(Nil),
                splits = prior.map(_.splits).getOrElse(Nil))))
            Some(written)
          else {
            cleanupAttempt(spark, root, version, attempt)
            None // lost the race — recompute against the new state
          }
        } finally {
          if (multiOut) res.joined.unpersist()
        }
      committed match {
        case Some(written) => return written
        case None => ()
      }
    }
    Nil // unreachable
  }

  /** Committed side-directories for `kind` (history/stats), oldest
    * version first. A side dir is committed iff its version has a
    * manifest at or below the current version AND the dir is the one the
    * WINNING attempt wrote (`v<N>-<sideId>`; format-1/2 manifests match
    * the old unsuffixed `v<N>` names) — so a crashed or racing loser's
    * leftovers are invisible. Among a version's committed dirs the
    * HIGHEST REVISION wins (`-r<k>` suffix — [[redactHistory]] rewrites
    * produce them; rev 0 is the original), so a completed redaction
    * supersedes the original even before vacuum GCs it, and a torn
    * redaction (no _SUCCESS) is never resolved. For versions whose
    * manifest was vacuumed, the surviving dir is accepted: vacuum GCs
    * mismatched dirs BEFORE dropping a version's manifest, so at most
    * the winner's revisions survive. */
  private def committedSideDirs(
      spark: SparkSession, root: String, kind: String): Seq[String] =
    currentVersion(spark, root) match {
      case None => Nil
      case Some(cur) =>
        val dir = new Path(s"$root/$kind")
        val fs = fsOf(spark, dir)
        if (!fs.exists(dir)) Nil
        else {
          val mfs = fsOf(spark, new Path(s"$root/manifest"))
          fs.listStatus(dir).toSeq
            .map(_.getPath.getName)
            .flatMap(n => parseSideDirName(n).map {
              case (v, a, r) => (v, a, r, n) })
            .filter { case (v, a, _, n) =>
              v <= cur &&
              fs.exists(new Path(s"$root/$kind/$n/_SUCCESS")) && {
                val mp = new Path(s"$root/manifest/m$v")
                if (!mfs.exists(mp)) true // vacuumed: losers GC'd first
                else readManifest(spark, root, v).sideId == a
              }
            }
            .groupBy(_._1).toSeq
            .map { case (v, cands) => (v, cands.maxBy(_._3)._4) }
            .sortBy(_._1)
            .map { case (_, n) => s"$root/$kind/$n" }
        }
    }

  /** `v<digits>`, `v<digits>-<attempt>` or `v<digits>-<attempt>-r<rev>`
    * → (version, attempt, revision); format-1/2 unsuffixed names parse
    * with an empty attempt, originals with revision 0 (attempt ids are
    * hex — they never contain '-'). */
  private def parseSideDirName(n: String): Option[(Long, String, Int)] =
    if (!n.startsWith("v")) None
    else {
      val (digits, suffix) = n.stripPrefix("v").span(_.isDigit)
      if (digits.isEmpty) None
      else if (suffix.isEmpty) Some((digits.toLong, "", 0))
      else if (suffix.startsWith("-") && suffix.length > 1) {
        def isRev(s: String) = s.startsWith("r") &&
          s.drop(1).nonEmpty && s.drop(1).forall(_.isDigit)
        suffix.drop(1).split("-", -1) match {
          // attempt ids are hex-only, so a lone `r<digits>` segment is a
          // REVISION of a format-1/2 unsuffixed original, not an attempt
          case Array(r) if isRev(r) =>
            Some((digits.toLong, "", r.drop(1).toInt))
          case Array(a) => Some((digits.toLong, a, 0))
          case Array(a, r) if isRev(r) =>
            Some((digits.toLong, a, r.drop(1).toInt))
          case _ => None
        }
      } else None
    }

  private val storeLog =
    org.slf4j.LoggerFactory.getLogger("graft.store.ManifestTable")

  private val MaintainSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("zone_cols",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("bloom_cols",
      org.apache.spark.sql.types.StringType),
    // r12: declared LAYOUT maintenance — recluster when a bucket holds
    // >= this many drift files (0/null = off). Older declaration rows
    // read the column as null (parquet missing-column fill), so
    // pre-r12 policies parse unchanged.
    org.apache.spark.sql.types.StructField("recluster_drift",
      org.apache.spark.sql.types.IntegerType),
    // r13: declared DERIVED-TABLE maintenance — when true, every data
    // commit refreshes the base's registered secondary indexes and
    // registered materialized views through their exactly-once replay
    // ledgers, so the Auto* optimizer rewrites' freshness gates stay
    // closed with no follower loop. Older rows read null = false.
    org.apache.spark.sql.types.StructField("maintain_derived",
      org.apache.spark.sql.types.BooleanType),
    // r13: declared SIZE maintenance — split any leaf bucket whose
    // live bytes exceed this from the commit hook ([[splitBuckets]];
    // 0/null = off), so bucket byte-costs stay bounded as the table
    // grows with no operator in the loop. Older rows read null = 0.
    org.apache.spark.sql.types.StructField("split_bytes",
      org.apache.spark.sql.types.LongType),
    // r13: declared COMPACTION — fold any bucket carrying this many
    // or more live files (base + delta/tombstone chain) back to one
    // file from the commit hook ([[compact]]; 0/null = off), so read
    // amplification (the reconcile chain length every read of that
    // bucket pays) stays bounded by a declared constant as deltas
    // accumulate, with no follower loop. Older rows read null = 0.
    org.apache.spark.sql.types.StructField("compact_files",
      org.apache.spark.sql.types.IntegerType),
    // r13: declared RETENTION — run [[vacuum]] with this keepLast from
    // the commit hook (0/null = off): superseded files reclaim
    // continuously instead of waiting for an operator. Tagged
    // snapshots (rows 164) and lagging derived tables' CDC windows are
    // both respected — see the hook. Older rows read null = 0.
    org.apache.spark.sql.types.StructField("vacuum_keep",
      org.apache.spark.sql.types.IntegerType),
    // r13: declared STATS maintenance — refresh [[ColStats]] per-file
    // column stats for these columns on every commit (''/null = off):
    // covered files no-op, so the incremental ANALYZE cost rides the
    // change rate and the optimizer-facing stats (columnStats) never
    // go stale. Older rows read null = none.
    org.apache.spark.sql.types.StructField("stats_cols",
      org.apache.spark.sql.types.StringType),
    // r14: declared ROW TTL — every commit expires rows whose
    // `ttl_column` value is older than now − `ttl_ms`, through the
    // TOMBSTONE predicate delete (write cost ∝ expired rows). The
    // policy requires a zone declaration on the same column, so the
    // hook's candidate probe is a sidecar read: a commit with nothing
    // expirable pays zero data scan and zero commits. Older rows read
    // null = off.
    org.apache.spark.sql.types.StructField("ttl_column",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("ttl_ms",
      org.apache.spark.sql.types.LongType)))

  /** A table's declared maintenance policy — see [[autoMaintain]]. */
  final case class MaintainPolicy(
      zones: Seq[String] = Nil,
      blooms: Seq[String] = Nil,
      reclusterDrift: Int = 0,
      derived: Boolean = false,
      splitBytes: Long = 0L,
      compactFiles: Int = 0,
      vacuumKeep: Int = 0,
      statsCols: Seq[String] = Nil,
      ttlColumn: String = "",
      ttlMs: Long = 0L)

  /** Declares ZONE/BLOOM sidecar maintenance for the table: from this
    * commit on, EVERY data commit (merge, delta, compact, DML,
    * clusterBy...) incrementally refreshes the named columns' sidecars
    * as part of the commit path — declare once, reads stay pruned,
    * no explicit buildZones/buildBlooms calls. The declaration is an
    * additive `maintain` sidecar row (the indexreg mechanism): a
    * re-declaration REPLACES the column sets (declare empty to stop).
    * Sidecar builds are advisory pruning state, so maintenance is
    * best-effort — a failed build logs a warning and never fails the
    * already-published commit. Cost rides the change rate: covered
    * files no-op, only commit-touched files scan. */
  /** `derived = true` additionally declares DERIVED-TABLE maintenance:
    * every data commit refreshes the base's REGISTERED secondary
    * indexes ([[SecondaryIndex.registered]]) and registered
    * materialized views ([[MaterializedView.registeredViews]]) through
    * their exactly-once ledgers — the [[graft.store.AutoIndexFilter]]/
    * [[AutoProbeJoin]] freshness gates then never see a lagging
    * derived table, with no follower loop to operate. Refreshes are
    * change-rate-bounded by construction (the CDC feed reads only
    * commit-touched buckets) and best-effort like every hook step: a
    * failed refresh logs and leaves the derived table lagging — which
    * the freshness gates treat exactly as before this existed (decline
    * and serve the plain plan), never wrong. */
  /** `splitBytes > 0` additionally declares SIZE maintenance: when a
    * commit leaves any leaf bucket over that many live bytes, the hook
    * runs [[splitBuckets]] — bucket byte-costs stay bounded by the
    * threshold as the table grows, with no operator in the loop (the
    * reclusterDrift discipline applied to the ONLINE BUCKET SPLIT). */
  /** `compactFiles >= 2` additionally declares COMPACTION: when a
    * commit leaves any bucket carrying that many or more live files
    * (a base plus its accumulated `merge(delta = true)` /
    * `delete(delta = true)` chain), the hook runs [[compact]] at that
    * threshold — READ amplification (the per-bucket reconcile chain
    * every read pays) stays bounded by a declared constant as deltas
    * and tombstones accumulate, the LSM companion to `splitBytes`'
    * write-side bound. On a table that also declares layout
    * maintenance, the hook re-clusters FIRST (a recluster folds the
    * buckets it re-sorts), so compaction only folds the chains layout
    * maintenance left alone. */
  /** `vacuumKeep >= 1` additionally declares RETENTION: every commit
    * ends by running [[vacuum]] at that window, so superseded files
    * reclaim continuously with no operator loop — the last manual
    * upkeep op retired. Two windows it can never violate: TAGGED
    * snapshots are retained by vacuum itself (row 164), and when
    * derived tables are registered the hook WIDENS the effective
    * window to cover the least-advanced one's CDC range (a lagging
    * index's next refresh diffs manifests from its applied version —
    * vacuuming those would strand it permanently). When OTHER writers
    * or long queries race the hook, set `spark.graft.vacuum.retainMs`
    * to at least the longest op you run: a racing loser re-reads
    * current state on retry, but its IN-FLIGHT read resolved an older
    * snapshot, and the age window is what keeps that snapshot's files
    * alive until the op finishes (the vacuum(retainMillis) reader-race
    * guard, automated). */
  /** `statsCols` additionally declares STATS maintenance: every commit
    * refreshes [[ColStats]] per-file column stats for the named
    * columns (covered files no-op — the zones discipline), so the
    * incremental ANALYZE and the optimizer-facing `columnStats` stay
    * fresh with no explicit `graft_analyze` calls. */
  /** `ttlColumn`/`ttlMs` additionally declare ROW TTL: every commit
    * expires rows whose `ttlColumn` value is older than now − `ttlMs`,
    * through the TOMBSTONE predicate delete ([[deleteWhere]]'s `delta`
    * mode) — write cost ∝ expired rows, never the candidate files. The
    * column must be a timestamp / timestamp_ntz / date / long (epoch
    * millis) and MUST appear in `zones` of the SAME declaration: the
    * hook's candidate probe is then a zone-sidecar read, so a commit
    * with nothing expirable pays ZERO data scan and ZERO extra commits
    * (a miss never commits — the hook retries naturally on the next
    * commit). Declare `compactFiles` alongside: until a compaction
    * folds an expired region, its data files' zone minima keep it a
    * candidate and the hook re-reconciles those files per commit;
    * after the fold, the fresh files' minima clear the cutoff and the
    * steady state is sidecar-read-only. */
  def autoMaintain(
      spark: SparkSession,
      root: String,
      zones: Seq[String] = Nil,
      blooms: Seq[String] = Nil,
      reclusterDrift: Int = 0,
      derived: Boolean = false,
      splitBytes: Long = 0L,
      compactFiles: Int = 0,
      vacuumKeep: Int = 0,
      statsCols: Seq[String] = Nil,
      ttlColumn: String = "",
      ttlMs: Long = 0L): Unit = {
    require(reclusterDrift >= 0, "reclusterDrift must be >= 0 (0 = off)")
    require(splitBytes >= 0, "splitBytes must be >= 0 (0 = off)")
    require(compactFiles == 0 || compactFiles >= 2,
      "compactFiles must be 0 (off) or >= 2 (a 1-file bucket has " +
        "nothing to fold)")
    require(vacuumKeep >= 0, "vacuumKeep must be >= 0 (0 = off)")
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no manifest table at $root"))
    if (reclusterDrift > 0) require(m.clusterCol.nonEmpty,
      s"table at $root records no cluster layout — bootstrap with " +
        "clusterBy/zOrderBy before declaring layout maintenance")
    if (splitBytes > 0) require(m.keyColumn.nonEmpty,
      s"table at $root records no key column — splitting needs the " +
        "key to re-address rows")
    if (compactFiles > 0) require(m.keyColumn.nonEmpty,
      s"table at $root records no key column — compaction folds " +
        "delta chains by key")
    require(ttlMs >= 0, "ttlMs must be >= 0 (0 = off)")
    require(ttlColumn.isEmpty == (ttlMs == 0L),
      "declare ttlColumn and ttlMs together (both, or neither)")
    if (ttlMs > 0) {
      require(m.keyColumn.nonEmpty && !m.udfKey,
        s"table at $root needs a recordable key column — TTL expiry " +
          "writes key tombstones")
      require(m.schemaJson.nonEmpty, s"table at $root records no schema")
      val schema = org.apache.spark.sql.types.DataType
        .fromJson(m.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      require(schema.fieldNames.contains(ttlColumn),
        s"TTL column '$ttlColumn' is not in the table schema")
      require(ttlBound(schema(ttlColumn).dataType, 0L).nonEmpty,
        s"TTL column '$ttlColumn' must be timestamp / timestamp_ntz / " +
          s"date / long (epoch millis), got " +
          schema(ttlColumn).dataType.sql)
      require(zones.contains(ttlColumn),
        s"declare a zone on '$ttlColumn' in the same policy — the TTL " +
          "candidate probe reads the zone sidecar; without it every " +
          "commit would scan the table for expirable rows")
    }
    val row = org.apache.spark.sql.Row(
      zones.mkString(","), blooms.mkString(","),
      Integer.valueOf(reclusterDrift),
      java.lang.Boolean.valueOf(derived),
      java.lang.Long.valueOf(splitBytes),
      Integer.valueOf(compactFiles),
      Integer.valueOf(vacuumKeep),
      statsCols.mkString(","),
      ttlColumn,
      java.lang.Long.valueOf(ttlMs))
    val df = spark.createDataFrame(
      java.util.Collections.singletonList(row), MaintainSchema)
    writeAdditiveSidecar(spark, root, m, df, "maintain")
    maintainSidecars(spark, root, m) // the declaring state covers too
  }

  /** The table's declared maintenance policy (newest declaration
    * wins) — (zone cols, bloom cols, recluster drift threshold; 0 =
    * layout maintenance off) — `None` when never declared. Callers on
    * the commit path check the directory's existence FIRST — a table
    * without a declaration pays a single fs.exists, never a manifest
    * read. */
  /** Driver-side declaration memo: a declared table's commit path
    * consults the policy twice per commit (the writers' zone-column
    * lookup and the post-commit sidecar hook), each a sidecar listing +
    * parquet collect. The memo keys on the maintain dir's child names +
    * mtimes (driver fs metadata, no job) — side dirs are attempt-unique,
    * so a changed declaration always changes the fingerprint. Metadata
    * only, never query results. */
  private val policyMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Option[MaintainPolicy])]()

  def maintenanceOf(spark: SparkSession, root: String)
      : Option[MaintainPolicy] = {
    val dir = new Path(s"$root/maintain")
    val mfs = fsOf(spark, dir)
    if (!mfs.exists(dir)) return None
    val fp = mfs.listStatus(dir).map(s =>
        s.getPath.getName + ":" + s.getModificationTime)
      .sorted.mkString(",")
    val hit = policyMemo.get(root)
    if (hit != null && hit._1 == fp) return hit._2
    val res = maintenanceOfUncached(spark, root)
    policyMemo.put(root, (fp, res))
    res
  }

  private def maintenanceOfUncached(spark: SparkSession, root: String)
      : Option[MaintainPolicy] = {
    val dirs = committedAdditiveDirs(spark, root, "maintain")
    if (dirs.isEmpty) return None
    // per-dir reads in commit order: the newest declaration replaces
    var last: Option[MaintainPolicy] = None
    dirs.foreach { d =>
      spark.read.schema(MaintainSchema).parquet(d).collect()
        .foreach { r =>
          def cols(x: String) =
            x.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
          last = Some(MaintainPolicy(
            cols(r.getString(0)), cols(r.getString(1)),
            if (r.isNullAt(2)) 0 else r.getInt(2),
            !r.isNullAt(3) && r.getBoolean(3),
            if (r.isNullAt(4)) 0L else r.getLong(4),
            if (r.isNullAt(5)) 0 else r.getInt(5),
            if (r.isNullAt(6)) 0 else r.getInt(6),
            if (r.isNullAt(7)) Nil else cols(r.getString(7)),
            if (r.isNullAt(8)) "" else r.getString(8),
            if (r.isNullAt(9)) 0L else r.getLong(9)))
        }
    }
    last
  }

  /** Re-entry depth for the commit-path maintenance hook: the layout
    * trigger COMMITS (recluster), and that nested commit re-enters
    * [[maintainSidecars]] — which must refresh the zone/bloom sidecars
    * for the re-clustered files but never trigger a second recluster
    * (the no-drift probe would otherwise re-run on every commit of a
    * quiet declared table, and a buggy drift predicate could recurse).
    * Commits are driver-side, so a ThreadLocal is the whole story. */
  private val maintainDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  /** The TTL cutoff as a TYPED literal value for the declared column:
    * the same value feeds the expiry predicate (`col < lit(bound)`)
    * and the zone-range hint (inclusive ≤ bound — weaker than the
    * strict predicate, so the hint contract holds). `None` = the type
    * cannot carry a wall-clock cutoff (declaration refuses it). NTZ
    * and DATE pin through UTC — the repo-wide session zone. */
  private def ttlBound(
      dt: org.apache.spark.sql.types.DataType,
      cutoffMs: Long): Option[Any] = dt match {
    case org.apache.spark.sql.types.TimestampType =>
      Some(java.time.Instant.ofEpochMilli(cutoffMs))
    case org.apache.spark.sql.types.TimestampNTZType =>
      Some(java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochMilli(cutoffMs),
        java.time.ZoneOffset.UTC))
    case org.apache.spark.sql.types.DateType =>
      Some(java.time.LocalDate.ofInstant(
        java.time.Instant.ofEpochMilli(cutoffMs),
        java.time.ZoneOffset.UTC))
    case org.apache.spark.sql.types.LongType => Some(cutoffMs)
    case _ => None
  }

  /** Post-commit upkeep for declared tables (see [[autoMaintain]]).
    * Never throws: the commit is already published. */
  private def maintainSidecars(
      spark: SparkSession, root: String, m: Manifest): Unit =
    try maintenanceOf(spark, root).foreach { pol =>
      import pol.{zones, blooms, derived, splitBytes, compactFiles,
        vacuumKeep}
      val drift = pol.reclusterDrift
      if (m.schemaJson.nonEmpty) {
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(m.schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        // LAYOUT first: when declared drift is crossed, the commit's
        // buckets re-cluster before any sidecar build — the recluster
        // is its own commit, whose nested maintenance pass (depth 1)
        // builds the sidecars over the FRESH files, so this pass can
        // stand down entirely when the layout moved.
        // SIZE first: an oversized leaf splits before any layout
        // re-sort, so the recluster below (which re-reads current
        // state) sorts the fresh CHILDREN, not a bucket about to be
        // torn apart. Both layout ops share the depth guard — their
        // own nested commits refresh sidecars only, never re-trigger.
        if (splitBytes > 0 && maintainDepth.get() == 0 &&
            m.keyColumn.nonEmpty) {
          maintainDepth.set(1)
          try splitBuckets(spark, root, schema, token = m.version,
            maxBytes = splitBytes, commitOnNoSplit = false,
            tokenStream = Some("graft-maintain-split"))
          finally maintainDepth.set(0)
        }
        // ROW TTL before the layout rewrites: expired rows tombstone
        // first, so this pass's compaction can fold them immediately.
        // The candidate probe is a ZONE-SIDECAR read (the declaration
        // requires a zone on the TTL column): when every live data
        // file's recorded minimum clears the cutoff, the hook pays no
        // data scan and no commit. A miss inside deleteWhere commits
        // nothing either (`commitOnMiss = false`), so a quiet table
        // never churns versions.
        if (pol.ttlMs > 0L && pol.ttlColumn.nonEmpty &&
            maintainDepth.get() == 0 && m.keyColumn.nonEmpty &&
            schema.fieldNames.contains(pol.ttlColumn)) {
          val cutoffMs = System.currentTimeMillis() - pol.ttlMs
          ttlBound(schema(pol.ttlColumn).dataType, cutoffMs)
            .foreach { bound =>
              val hint = Seq((pol.ttlColumn, null: Any, bound))
              val candidates = ZoneSkip
                .prunedEntries(spark, root, schema, m, hint)
                .exists(e => !e.tomb)
              if (candidates) {
                maintainDepth.set(1)
                try deleteWhere(spark, root, schema,
                  df => df(pol.ttlColumn) < lit(bound),
                  token = m.version,
                  tokenStream = Some("graft-maintain-ttl"),
                  zoneRanges = hint,
                  delta = true, commitOnMiss = false)
                finally maintainDepth.set(0)
              }
            }
        }
        val reclustered =
          if (drift > 0 && maintainDepth.get() == 0 &&
              m.clusterCol.nonEmpty && !m.udfKey) {
            // The declared layout's file granularity isn't a recorded
            // manifest fact — recover it from the layout itself: the
            // median sorted-file count over buckets the cluster
            // writers populated (a clusterBy(filesPerBucket = 16)
            // bootstrap leaves ~16 sorted files per bucket). Without
            // this, the hook's recluster would silently rewrite
            // drifted buckets at the DEFAULT granularity, degrading a
            // coarser/finer declared layout over time.
            val sortedCounts = m.entries.groupBy(_.bucket).values
              .map(_.count(_.sorted)).filter(_ > 0).toSeq.sorted
            val fpb =
              if (sortedCounts.isEmpty) 4
              else sortedCounts(sortedCounts.size / 2)
            maintainDepth.set(1)
            try recluster(spark, root, schema, token = m.version,
              filesPerBucket = fpb,
              minDriftFiles = drift, commitOnNoDrift = false,
              tokenStream = Some("graft-maintain-recluster")).nonEmpty
            finally maintainDepth.set(0)
          } else false
        // COMPACTION last among the rewrites: a recluster above
        // already folds the buckets it re-sorts, so this folds only
        // the delta/tombstone chains layout maintenance left alone
        // (or all of them, on a table with no declared layout). The
        // compact call re-reads current state, so it sees the
        // split/recluster commits' children, never stale buckets;
        // its own nested commit (depth 1) refreshes the sidecars
        // over the folded files.
        val compacted =
          if (compactFiles >= 2 && maintainDepth.get() == 0 &&
              m.keyColumn.nonEmpty) {
            maintainDepth.set(1)
            try compact(spark, root, schema, m.keyColumn,
              token = m.version, minFilesPerBucket = compactFiles,
              tokenStream = Some("graft-maintain-compact")).nonEmpty
            finally maintainDepth.set(0)
          } else false
        if (!reclustered && !compacted) {
          val zc = zones.filter(schema.fieldNames.contains)
          val bc = blooms.filter(schema.fieldNames.contains)
          if (zc.nonEmpty) ZoneSkip.buildZones(spark, root, schema, zc)
          if (bc.nonEmpty) BloomSkip.buildBlooms(spark, root, schema, bc)
          // declared STATS: the incremental ANALYZE rides the commit
          // like zones/blooms — covered files no-op, rewritten buckets
          // are the only new work, and the optimizer-facing
          // columnStats never go stale
          val sc = pol.statsCols.filter(schema.fieldNames.contains)
          if (sc.nonEmpty) ColStats.buildStats(spark, root, schema, sc)
        }
        // DERIVED-table upkeep: advance every registered secondary
        // index and materialized view to this commit through their
        // exactly-once ledgers (a replay/raced refresh no-ops). Each
        // failure is contained per derived table — one broken index
        // must not strand the others — and leaves that table lagging,
        // which its freshness gate already treats as "decline, serve
        // the plain plan". When the layout trigger reclustered above,
        // the nested commit's own hook already advanced them to the
        // recluster version and these calls no-op on the ledger.
        if (derived) {
          SecondaryIndex.registered(spark, root, schema).foreach { ix =>
            try SecondaryIndex.refresh(spark, ix)
            catch {
              case scala.util.control.NonFatal(e) =>
                storeLog.warn(s"declared index maintenance failed " +
                  s"for ${ix.indexRoot} at $root v${m.version}: $e")
            }
          }
          MaterializedView.registeredViews(spark, root, schema)
            .foreach { v =>
              try MaterializedView.refresh(spark, v)
              catch {
                case scala.util.control.NonFatal(e) =>
                  storeLog.warn(s"declared view maintenance failed " +
                    s"for ${v.viewRoot} at $root v${m.version}: $e")
              }
            }
        }
        // RETENTION last: after every rewrite above has committed,
        // reclaim what nothing references any more. Depth-0 only (the
        // nested passes' tables are the same — one sweep suffices).
        // Two windows the declared keepLast can never violate: tagged
        // snapshots (vacuum itself retains them), and the CDC range a
        // lagging REGISTERED derived table still needs — its next
        // refresh diffs manifests from its applied version, so the
        // effective window widens to cover the least-advanced one
        // (whether or not `derived` maintenance is declared: an
        // explicitly-refreshed index needs its diff window just the
        // same).
        if (vacuumKeep >= 1 && maintainDepth.get() == 0) {
          val cur = currentVersion(spark, root).getOrElse(m.version)
          val applied =
            SecondaryIndex.registered(spark, root, schema)
              .map(ix => SecondaryIndex.appliedVersion(spark, ix)) ++
            MaterializedView.registeredViews(spark, root, schema)
              .map(v => MaterializedView.appliedVersion(spark, v))
          val floor = applied.minOption
            .map(a => (cur - a + 1).toInt).getOrElse(1)
          // session-tunable reader-race guard: never auto-vacuum a
          // version younger than the longest query the deployment runs
          val retain = spark.conf
            .getOption("spark.graft.vacuum.retainMs")
            .map(_.toLong).getOrElse(0L)
          vacuum(spark, root, math.max(vacuumKeep, floor), retain)
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        storeLog.warn(s"graft sidecar maintenance failed at " +
          s"$root v${m.version} (commit unaffected; sidecars are " +
          s"advisory): $e")
    }

  /** Committed ADDITIVE sidecar directories ([[BloomSkip]]'s `bloom`
    * kind, [[ZoneSkip]]'s `zones` kind) — the history/stats commit
    * rules (version ≤ current, `_SUCCESS`, attempt = the version's
    * recorded winner) EXCEPT that ALL revisions of a version are kept,
    * not just the highest: these revisions are ADDITIVE (each
    * incremental build covers files the earlier ones did not — e.g. a
    * second build over different columns), where a history revision
    * SUPERSEDES its original (redaction rewrite). Sorted oldest→newest
    * so the readers' newest-wins resolution is well-defined. */
  private[store] def committedAdditiveDirs(
      spark: SparkSession, root: String, kind: String): Seq[String] =
    currentVersion(spark, root) match {
      case None => Nil
      case Some(cur) =>
        val dir = new Path(s"$root/$kind")
        val fs = fsOf(spark, dir)
        if (!fs.exists(dir)) Nil
        else {
          val mfs = fsOf(spark, new Path(s"$root/manifest"))
          fs.listStatus(dir).toSeq
            .map(_.getPath.getName)
            .flatMap(n => parseSideDirName(n).map {
              case (v, a, r) => (v, a, r, n) })
            .filter { case (v, a, _, n) =>
              v <= cur &&
              fs.exists(new Path(s"$root/$kind/$n/_SUCCESS")) && {
                val mp = new Path(s"$root/manifest/m$v")
                if (!mfs.exists(mp)) true // vacuumed: losers GC'd first
                else readManifest(spark, root, v).sideId == a
              }
            }
            .sortBy { case (v, _, r, _) => (v, r) }
            .map { case (_, _, _, n) => s"$root/$kind/$n" }
        }
    }

  private[store] def committedBloomDirs(
      spark: SparkSession, root: String): Seq[String] =
    committedAdditiveDirs(spark, root, "bloom")

  /** The coarse per-BUCKET summary level of the two-level Bloom scheme
    * ([[BloomSkip]]): same additive commit rules, own kind so the two
    * row schemas never mix. */
  private[store] def committedBloomSummaryDirs(
      spark: SparkSession, root: String): Seq[String] =
    committedAdditiveDirs(spark, root, "bloomsum")

  /** Writes an additive sidecar (`kind` ∈ bloom/zones) for `m`'s
    * version: the next revision of `<kind>/v<version>-<sideId>` (first
    * build writes the unrevisioned dir). The parquet `_SUCCESS` marker
    * is the commit point — a crashed half-write is invisible to
    * [[committedAdditiveDirs]]. */
  private[store] def writeAdditiveSidecar(
      spark: SparkSession, root: String, m: Manifest,
      df: DataFrame, kind: String, singleFile: Boolean = true): String = {
    val base = s"v${m.version}" +
      (if (m.sideId.isEmpty) "" else s"-${m.sideId}")
    val dir = new Path(s"$root/$kind")
    val fs = fsOf(spark, dir)
    val rev =
      if (!fs.exists(dir)) 0
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .flatMap(parseSideDirName)
        .collect { case (v, a, r) if v == m.version && a == m.sideId =>
          r + 1 }
        .maxOption.getOrElse(0)
    val name = if (rev == 0) base else s"$base-r$rev"
    val out = s"$root/$kind/$name"
    (if (singleFile) df.coalesce(1) else df)
      .write.mode("errorifexists").parquet(out)
    out
  }

  /** Bloom sidecars write WITHOUT the single-file coalesce: the frame
    * carries ~1 MB of filter bits per covered file, and a bootstrap
    * build over a wide table must not funnel hundreds of GB through
    * one task — readers union the directory either way. */
  private[store] def writeBloomSidecar(
      spark: SparkSession, root: String, m: Manifest,
      df: DataFrame): String =
    writeAdditiveSidecar(spark, root, m, df, "bloom", singleFile = false)

  /** Sidecar-driven entry pruning at the right granularity. Default is
    * BUCKET-granular — with LSM delta files, dropping ONE file of a
    * bucket can resurrect a row a later delta overrode (the overriding
    * row need not match the probed value; only its victim did), so a
    * bucket drops only when EVERY live file is definitely absent. But
    * when a bucket's live files all share one `seq` (true after
    * [[clusterBy]]/[[compact]]/any single-commit bucket write), the
    * bucket holds each key EXACTLY ONCE across its files — no
    * cross-file overrides exist, and pruning safely drops to FILE
    * granularity: exactly what makes a clusterBy'd layout's per-file
    * zones worth building. (Key-predicate pruning in
    * [[GraftFileIndex]] is file-granular even across seq levels for a
    * different reason: an overriding row always carries the SAME key
    * as its victim, so a file containing the probed key is never
    * dropped.) */
  private[store] def pruneAbsent(
      entries: Seq[FileEntry],
      definitelyAbsent: FileEntry => Boolean): Seq[FileEntry] =
    entries.groupBy(_.bucket).values.flatMap { es =>
      if (es.map(_.seq).distinct.size == 1) es.filterNot(definitelyAbsent)
      else if (es.forall(definitelyAbsent)) Nil
      else es
    }.toSeq

  /** Reconciled read over an entry SUBSET under the table's recorded
    * comparator ([[BloomSkip]]'s bucket-pruned scan). */
  private[store] def reconciledEntriesRead(
      spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType,
      m: Manifest, entries: Seq[FileEntry]): DataFrame =
    reconciledRead(spark, root, schema, m, entries, m.keyColumn,
      recordedKey(m))

  /** All committed keep_history rows across versions (empty frame when
    * none). Survives `vacuum` — history records facts, not superseded
    * state; [[redactHistory]] (per-key erasure) and [[expireHistory]]
    * (retention window) are the ways to shrink it. */
  def historyOf(spark: SparkSession, root: String): DataFrame = {
    val dirs = committedSideDirs(spark, root, "history")
    if (dirs.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(dirs: _*)
  }

  /** GDPR-style erasure for the HISTORY side-channel: [[delete]] removes
    * a key's live rows, but its old values survive in keep_history rows —
    * this removes those too. Every committed history dir containing a
    * matching key is rewritten WITHOUT those rows as the dir's next
    * REVISION (`...-r<k+1>`, same version + winning attempt id), then the
    * superseded revision is deleted; dirs without matches are untouched
    * (cost tracks where the key actually appears). Readers resolve the
    * highest committed revision, so a crash between the revision write
    * and the old dir's delete leaves both visible-consistent (the new one
    * wins) and `vacuum` GCs the leftover; a torn revision write (no
    * _SUCCESS) is invisible and vacuumed. Idempotent: a re-run finds no
    * matching rows and rewrites nothing. Returns the number of dirs
    * rewritten. NULL keys never match (same semantics as [[delete]]). */
  def redactHistory(
      spark: SparkSession,
      root: String,
      keyColumn: String,
      keys: Seq[Any],
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity): Int = {
    require(keys.nonEmpty, "redactHistory needs at least one key")
    val dirs = committedSideDirs(spark, root, "history")
    // Match under the table's EFFECTIVE comparator ([[effectiveKey]]):
    // history rows carry the raw keys the merge saw, so a raw-key match
    // on a keyExpr-recorded table would miss trim/case variants of the
    // key being erased.
    val (cmp, probeVals) = currentManifest(spark, root) match {
      case Some(m) if m.keyExpr.nonEmpty =>
        (effectiveKey(m, keyComparator),
          normalizedProbes(spark, m, keyColumn, keys, keyComparator)
            .map(p => lit(p._2)))
      case _ => (keyComparator, keys.map(k => keyComparator(lit(k))))
    }
    var rewritten = 0
    dirs.foreach { d =>
      val df = spark.read.parquet(d)
      val matches = coalesce(
        cmp(col(keyColumn)).isin(probeVals: _*), lit(false))
      if (df.filter(matches).limit(1).count() > 0) {
        val name = d.substring(d.lastIndexOf('/') + 1)
        val (v, a, r) = parseSideDirName(name).get
        val next =
          s"$root/history/v$v${if (a.isEmpty) "" else s"-$a"}-r${r + 1}"
        val fs = fsOf(spark, new Path(d))
        val srcMtime = fs.getFileStatus(new Path(d)).getModificationTime
        df.filter(!matches).write.mode("overwrite").parquet(next)
        // Carry the ORIGINAL commit time onto the revision: a redaction
        // must not make an old history version look fresh to
        // [[expireHistory]]'s post-vacuum mtime fallback — "older than
        // 90 days must be gone" has to hold through a yesterday's
        // redaction of a 100-day-old version.
        fs.setTimes(new Path(next), srcMtime, -1)
        fs.delete(new Path(d), true)
        rewritten += 1
      }
    }
    rewritten
  }

  /** Retention for the HISTORY side-channel — the complement of
    * [[redactHistory]]: redaction is targeted erasure of a KEY, expiry
    * retires whole history versions that aged out of a compliance
    * window. A committed history version expires when it falls outside
    * the newest `keepLast` history-bearing versions OR its commit time
    * is before `olderThanMillis` — each given criterion is an EXPIRY
    * GUARANTEE (compliance semantics: "older than 90 days must be
    * gone" holds even for the newest `keepLast`), so passing both
    * expires the union. Commit time is the version's manifest-file
    * mtime while the manifest exists; after `vacuum` retired it, the
    * MINIMUM mtime across the version's history dirs (all revisions and
    * leftovers — redaction also carries the source dir's mtime onto its
    * revision, so a recent redaction cannot refresh an old version's
    * clock). Expiry drops EVERY revision of an
    * expired version (a crashed redaction's superseded leftovers go
    * with it); versions above current (in-flight commits) and torn
    * revisions are untouched — those are vacuum's job. Idempotent;
    * returns the number of versions expired. Live state, time travel
    * and the change feed are unaffected — only [[historyOf]] shrinks. */
  def expireHistory(
      spark: SparkSession,
      root: String,
      keepLast: Int = Int.MaxValue,
      olderThanMillis: Long = Long.MinValue): Int = {
    require(keepLast >= 0, s"keepLast must be >= 0, got $keepLast")
    val dirs = committedSideDirs(spark, root, "history")
    val fs = fsOf(spark, new Path(s"$root/history"))
    val mfs = fsOf(spark, new Path(s"$root/manifest"))
    val byVersion = dirs.map { d =>
      val name = d.substring(d.lastIndexOf('/') + 1)
      (parseSideDirName(name).get._1, d)
    }.sortBy(-_._1) // newest first
    // Post-vacuum commit-time fallback: the OLDEST mtime any of the
    // version's dirs carries (revisions included) — never a single
    // resolved dir's, which a later rewrite could have freshened.
    val fallbackMtime: Map[Long, Long] =
      if (byVersion.isEmpty) Map.empty
      else fs.listStatus(new Path(s"$root/history")).toSeq
        .flatMap(st => parseSideDirName(st.getPath.getName)
          .map(p => (p._1, st.getModificationTime)))
        .groupBy(_._1).map { case (v, ts) => (v, ts.map(_._2).min) }
    val expired = byVersion.zipWithIndex.collect {
      case ((v, d), rank) if {
        val mp = new Path(s"$root/manifest/m$v")
        val commitTime =
          if (mfs.exists(mp)) mfs.getFileStatus(mp).getModificationTime
          else fallbackMtime.getOrElse(v,
            fs.getFileStatus(new Path(d)).getModificationTime)
        rank >= keepLast || commitTime < olderThanMillis
      } => v
    }.toSet
    if (expired.nonEmpty) {
      val hd = new Path(s"$root/history")
      // every revision/leftover of an expired version goes with it
      fs.listStatus(hd).foreach { st =>
        parseSideDirName(st.getPath.getName).foreach { case (v, _, _) =>
          if (expired(v)) fs.delete(st.getPath, true)
        }
      }
    }
    expired.size
  }

  /** All committed per-merge import stats (one row per recorded version;
    * `_version` column added). */
  def statsOf(spark: SparkSession, root: String): DataFrame = {
    val dirs = committedSideDirs(spark, root, "stats")
    if (dirs.isEmpty) spark.emptyDataFrame
    else dirs.map { d =>
      val name = d.substring(d.lastIndexOf('/') + 1)
      val v = parseSideDirName(name).get._1
      spark.read.parquet(d).withColumn("_version", lit(v))
    }.reduce(_ unionByName _)
  }

  /** Pruned point-lookup: reads ONLY the data files that can contain the
    * requested keys — their hash buckets, further narrowed by the
    * manifest's per-bucket key ranges when the key renders as an
    * orderable string. O(|keys|/numBuckets) of the table's files instead
    * of a full scan; the scan itself still carries the key predicate so
    * parquet row-group min/max pruning applies within the file. */
  def lookup(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      keyColumn: String,
      keys: Seq[Any],
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity): DataFrame =
    currentManifest(spark, root) match {
      case Some(m) if m.entries.nonEmpty && keys.nonEmpty =>
        // Bucket AND string rendering computed by Spark itself, so the
        // range check compares in exactly the space the manifest stats
        // were computed in (`cast(comparator(key) as string)` — see
        // writeBuckets) — a driver-side String.valueOf could render
        // differently and wrongly exclude a file. Stats are
        // string-ordered min/max of the stringified NORMALIZED keys, so
        // lexicographic containment is conservative-correct, and the
        // probe keys must be normalized the same way (a lower-cased
        // table probed with "Foo" must compare "foo").
        val cmp = effectiveKey(m, keyComparator)
        val probes = normalizedProbes(spark, m, keyColumn, keys,
          keyComparator)
        // With delta files, a hit bucket must keep ALL of its live files
        // that can contain the probe key — range-excluded files provably
        // lack the key, so reconciling over the remaining subset is exact
        // (last-seq-wins on the normalized key). Per-bucket SORTED probe
        // strings + a binary search per entry: O(E log N), not O(E·N) —
        // at 100k probes the linear scan was real driver time.
        val byBucket: Map[Int, Array[String]] = probes
          .groupBy(_._1).map { case (b, ps) =>
            b -> ps.map(_._3).toArray.sorted
          }
        def anyInRange(sorted: Array[String], lo: String, hi: String)
            : Boolean = {
          var l = 0; var r = sorted.length
          while (l < r) { // first index with sorted(i) >= lo
            val mid = (l + r) >>> 1
            if (sorted(mid) < lo) l = mid + 1 else r = mid
          }
          l < sorted.length && sorted(l) <= hi
        }
        val hit = m.entries.filter(e => byBucket.get(e.bucket)
          .exists(anyInRange(_, e.minKey, e.maxKey)))
        if (hit.isEmpty) emptyFrame(spark, schema)
        else {
          val base = reconciledRead(spark, root, schema, m, hit,
            keyColumn, cmp)
          // Small probe sets inline as literals (the In predicate
          // pushes into the parquet scan's row-group pruning); big sets
          // become a broadcast semi-join on the normalized key — same
          // rows, one plan node instead of O(N) analyzer work.
          if (probes.size <= InlineProbeLimit)
            base.filter(cmp(col(keyColumn))
              .isin(probes.map(p => lit(p._2)): _*))
          else {
            val pf = broadcast(probeFrame(spark, "_probe_k",
              probes.map(_._2)))
            base.join(pf, cmp(col(keyColumn)) === pf("_probe_k"),
              "left_semi")
          }
        }
      case _ => emptyFrame(spark, schema)
    }

  /** Pruned RANGE lookup on the key: `lo <= norm(key) <= hi`, reading
    * only the files whose per-file [minKey, maxKey] stats intersect the
    * probe interval. On a RANGE-layout table ([[create]]'s
    * `rangeBounds`) buckets are contiguous key slices, so the stats are
    * tight and the read touches just the overlapping buckets — the
    * classic range-index scan; on a hash-layout table every bucket
    * spans ~the whole key space and the stats rarely exclude anything,
    * so this degrades to a filtered full read (correct, not pruned).
    *
    * Stat-based pruning compares in RENDERED-STRING space and is only
    * sound when that matches the normalized key's semantic order, so it
    * is applied iff the normalized key is a string type (the invariant
    * a range-layout table already enforces at creation); for non-string
    * keys no file is excluded and the predicate does the work (parquet
    * row-group stats still prune within files — the scan carries the
    * key-typed predicate). Endpoints are inclusive and must be non-NULL.
    *
    * Excluding a file by stats is exact even with un-compacted deltas: a
    * delta override carries its key, so an override OF an in-range key
    * renders in-range and can only live in a file whose stats intersect
    * the probe — never in an excluded one. */
  def lookupRange(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      keyColumn: String,
      lo: Any,
      hi: Any,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity): DataFrame = {
    require(lo != null && hi != null, "range endpoints must be non-NULL")
    currentManifest(spark, root) match {
      case Some(m) if m.entries.nonEmpty =>
        val cmp = effectiveKey(m, keyComparator)
        // Normalize + render both endpoints through Spark itself (the
        // normalizedProbes discipline: the recorded keyExpr resolves by
        // name, and a driver-side rendering could differ).
        val probe = spark.range(1)
          .select(explode(array(lit(lo), lit(hi))).as(keyColumn))
          .select(cmp(col(keyColumn)).as("k"),
            cmp(col(keyColumn)).cast("string").as("s"))
        val stringKeyed = probe.schema.head.dataType ==
          org.apache.spark.sql.types.StringType
        val rows = probe.collect()
        val (normLo, loS) = (rows(0).get(0), rows(0).getString(1))
        val (normHi, hiS) = (rows(1).get(0), rows(1).getString(1))
        val hit =
          if (!stringKeyed) m.entries
          else m.entries.filter(e => !(e.maxKey < loS || e.minKey > hiS))
        if (hit.isEmpty) emptyFrame(spark, schema)
        else reconciledRead(spark, root, schema, m, hit, keyColumn, cmp)
          .filter(cmp(col(keyColumn)) >= lit(normLo) &&
            cmp(col(keyColumn)) <= lit(normHi))
      case _ => emptyFrame(spark, schema)
    }
  }

  /** Dim-driven DYNAMIC FILE PRUNING for joins — the "join a 100 TB
    * fact to a selective dim" fast path. Spark's own dynamic partition
    * pruning serves only partition columns of partitioned layouts (and
    * its DSv2 runtime filtering only `BatchScanExec` scans, which the
    * graft read path deliberately bypasses — see [[GraftReadStrategy]]),
    * so a plain `fact.join(dim, key)` scans EVERY fact file and discards
    * at the join: the runtime bloom-filter rule drops rows, never I/O.
    * This helper closes that gap with the engine's established
    * bounded-probe discipline (the [[SecondaryIndex]]/[[MaterializedView]]
    * refresh pattern): ONE bounded job collects the dim side's distinct
    * join keys (`limit(maxDriverKeys + 1)` — never an unbounded
    * collect); under the cap the fact read becomes a [[lookup]] — only
    * the probed keys' hash buckets, narrowed further by per-file key
    * stats — and over it the plan falls back to the plain join
    * unchanged (correct at any dim size; AQE still broadcasts a small
    * dim). At 1000 dim keys against a 400k-file table the pruned read
    * touches ≤1000 buckets' files instead of all 400k — the I/O win no
    * row-level runtime filter can deliver.
    *
    * Pruning is only SOUND for join types whose result is bounded by
    * the dim side's matches: `inner` and `left_semi` (fact side).
    * Outer joins that must surface unmatched FACT rows cannot prune and
    * refuse loudly. Dim keys cast to the table key's type before
    * probing (Spark's hash is type-dependent — the [[mergeInto]]
    * lesson) and compare under the table's recorded comparator on BOTH
    * sides, so a case-normalized table probed with raw-cased dim keys
    * still matches. NULL dim keys drop (equality-join semantics). */
  def probeJoin(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      dim: DataFrame,
      dimKey: String,
      joinType: String = "inner",
      maxDriverKeys: Int = 100000,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity): DataFrame = {
    val jt = joinType.toLowerCase.replace("_", "")
    require(jt == "inner" || jt == "leftsemi" || jt == "semi",
      s"probeJoin('$joinType') is unsound: file pruning drops fact " +
        "rows no dim key matches, so only dim-bounded join types " +
        "(inner, left_semi) may prune — use a plain join for outer " +
        "semantics")
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no manifest table at $root"))
    val key = m.keyColumn
    require(key.nonEmpty, s"table at $root records no key column")
    val keyType = schema(key).dataType
    val cmp = effectiveKey(m, keyComparator)
    // one bounded job: distinct dim keys, capped at maxDriverKeys + 1
    // so "too many" is detected without ever collecting more
    val head = dim.select(dim(dimKey).cast(keyType).as(key))
      .filter(col(key).isNotNull)
      .distinct().limit(maxDriverKeys + 1)
      .collect().map(_.get(0)).toSeq
    val fact =
      if (head.size <= maxDriverKeys)
        lookup(spark, root, schema, key, head, keyComparator)
      else read(spark, root, schema) // over the cap: plain full read
    // The join must compare in NORMALIZED key space on both sides. On
    // the fact side `cmp` resolves the key column by name — correct.
    // On the DIM side a manifest-recorded keyExpr must NOT be applied
    // as-is (it names the key column, so it would resolve against the
    // fact side and collapse the condition to a trivially-true
    // cmp(key) == cmp(key) cross join); substitute the dim probe
    // expression into the parsed keyExpr instead.
    val dimProbe = dim(dimKey).cast(keyType)
    val dimNorm: org.apache.spark.sql.Column =
      if (m.keyExpr.isEmpty) keyComparator(dimProbe)
      else {
        import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        val probeExpr =
          org.apache.spark.sql.graft.Bridge.expression(dimProbe)
        org.apache.spark.sql.graft.Bridge.column(
          spark.sessionState.sqlParser.parseExpression(m.keyExpr)
            .transform {
              case a: UnresolvedAttribute if a.nameParts == Seq(key) =>
                probeExpr
            })
      }
    val cond = cmp(fact(key)) === dimNorm
    fact.join(dim, cond, if (jt == "inner") "inner" else "left_semi")
  }

  /** Targeted key deletion (GDPR-style erasure): removes the rows whose
    * key is in `keys`, rewriting ONLY the buckets those keys hash to —
    * the untouched rest of the table carries into the new manifest
    * verbatim, same as a MERGE. Publishes a new internal version via the
    * same atomic no-overwrite manifest rename (conflicts retry the whole
    * delete); `token` is the delete's idempotency token (pick any value
    * different from the previous delete's, e.g. `currentVersion + 1`) —
    * a replay with the same token is a no-op. NULL-keyed rows never
    * match a delete key (SQL semantics) and are kept when their bucket
    * is rewritten. Cost: |touched buckets| file rewrites, never a table
    * scan.
    *
    * `tokenStream` gives an AUTOMATED caller (a derived-table refresh)
    * its own token space: the token records under
    * `lastBatches(tokenStream)` and `lastDelete` carries through
    * untouched — so a machine-chosen token (a base version) can never
    * collide with, and silently swallow, a user's delete token on the
    * same table (the collision class [[compact]]'s separate
    * `lastCompact` token already avoids). */
  /** `delta = true` switches keyed deletion to TOMBSTONE mode: instead
    * of rewriting every touched bucket in full (a 100 GB write to erase
    * 10 keys from 10 GB-class buckets), the commit writes one tiny
    * key-only tombstone file per touched bucket — cost ∝ deleted keys,
    * the [[merge]] `delta = true` discipline applied to deletes. The
    * reconcile chain serves reads exactly (tombstone keys override all
    * lower levels and emit nothing), [[compact]] folds tombstones away,
    * and the change feed derives the same 'delete' rows it would from a
    * rewrite (the bucket's file set changed; the key-diff sees the rows
    * vanish). Like a delta merge it REQUIRES a recordable comparator
    * (readers must reconcile in normalized key space) — refused loudly
    * on udfKey layouts. Tombstones may name keys the table never held
    * (precision would cost reading the bucket — the thing this mode
    * avoids); they are inert: an override of an absent key kills
    * nothing, and a later merge re-inserting the key wins at its higher
    * seq. */
  def delete(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      keyColumn: String,
      keys: Seq[Any],
      token: Long,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity,
      tokenStream: Option[String] = None,
      delta: Boolean = false): Seq[FileEntry] = {
    while (true) {
      val prior = currentManifest(spark, root).getOrElse(return Nil)
      val replayed = tokenStream match {
        case Some(s) => prior.lastBatches.get(s).contains(token)
        case None => prior.lastDelete.contains(token)
      }
      if (replayed) return Nil
      // Rewrite guard: a stale (pre-evolution) caller schema would erase
      // the newer columns' values in every rewritten bucket.
      checkSchemaCompatible(prior, schema, "delete", allowAdd = true)
      if (delta) require(!prior.udfKey,
        "delete(delta = true) needs a recordable key comparator — a " +
          "udfKey layout's readers cannot reconcile tombstones in " +
          "normalized key space")
      val batches = tokenStream.fold(prior.lastBatches)(s =>
        prior.lastBatches + (s -> token))
      val deleteToken =
        if (tokenStream.isEmpty) Some(token) else prior.lastDelete
      val attempt = newAttemptId()
      val version = prior.version + 1
      val n = prior.numBuckets
      // Bucket targeting AND the keep-filter run under the table's
      // EFFECTIVE comparator ([[effectiveKey]]): on a keyExpr-recorded
      // table the identity-default caller would otherwise probe the
      // wrong buckets and filter by raw key — committing its token
      // while erasing nothing, so a corrected retry replays into a
      // silent no-op.
      val cmp = effectiveKey(prior, keyComparator)
      val probes = normalizedProbes(spark, prior, keyColumn, keys,
        keyComparator)
      val rendered = probes.map(_._1).toSet
      val (touchedEntries, untouched) =
        prior.entries.partition(e => rendered(e.bucket))
      if (touchedEntries.isEmpty) {
        if (tryCommitManifest(spark, root, Manifest(version, n,
            prior.entries, batches, deleteToken, attempt,
            prior.keyColumn, prior.keyExpr, prior.lastCompact,
            prior.rangeBounds, prior.schemaJson, prior.udfKey,
            clusterCol = prior.clusterCol, colMap = prior.colMap,
            splits = prior.splits)))
          return Nil
      } else if (delta) {
        // TOMBSTONE mode: one key-only file per touched bucket, raw
        // keys at the table's key type (the reconcile applies the same
        // recorded normalizer to them as to data rows). Buckets no
        // probe key targets — and keys whose bucket holds no live
        // entries — write nothing: there is nothing their tombstone
        // could kill. Null keys are inert in the reconcile's anti-join
        // and are dropped here so hash(null) can't bucket them.
        val keyField = schema(schema.fieldIndex(keyColumn))
        val bucket = leafExpr(prior, cmp(col(keyColumn)))
        val targets = touchedEntries.map(_.bucket).distinct
        val tombDf = probeFrame(spark, keyColumn, keys)
          .select(col(keyColumn).cast(keyField.dataType).as(keyColumn))
          .filter(col(keyColumn).isNotNull && cmp(col(keyColumn)).isNotNull)
          .distinct()
          .filter(bucket.isin(targets.map(Integer.valueOf): _*))
        val written = writeBuckets(tombDf, bucket, keyColumn, root,
          s"v$version-$attempt", targets.size, cmp, seq = version,
          colMap = prior.colMap).map(_.copy(tomb = true))
        if (tryCommitManifest(spark, root, Manifest(version, n,
            prior.entries ++ written, batches, deleteToken, attempt,
            keyColumn, prior.keyExpr, prior.lastCompact,
            prior.rangeBounds, prior.schemaJson, prior.udfKey,
            clusterCol = prior.clusterCol, colMap = prior.colMap,
            splits = prior.splits)))
          return written
        cleanupAttempt(spark, root, version, attempt)
      } else {
        // Keep-filter must be NULL-safe: `key isin (...)` is NULL for a
        // NULL key, and a bare `!NULL` filter would silently DROP
        // null-keyed rows that happen to share a bucket with a deleted key.
        // The fragment read reconciles delta files first, so a rewritten
        // bucket comes out compacted as a side effect. The isin list
        // holds the PRE-normalized probe values (normalizing a literal
        // through the recorded keyExpr directly is impossible — it
        // resolves by column name). Big probe sets switch to a
        // broadcast ANTI-join (NULL keys never match the condition and
        // are kept — same semantics, no O(N) analyzer cost).
        val reconciled = reconciledRead(spark, root, schema, prior,
          touchedEntries, keyColumn, cmp)
        val fragment =
          if (probes.size <= InlineProbeLimit)
            reconciled.filter(!coalesce(
              cmp(col(keyColumn)).isin(probes.map(p => lit(p._2)): _*),
              lit(false)))
          else {
            val pf = broadcast(probeFrame(spark, "_probe_k",
              probes.map(_._2)))
            reconciled.join(pf,
              cmp(col(keyColumn)) === pf("_probe_k"), "left_anti")
          }
        val bucket = leafExpr(prior, cmp(col(keyColumn)))
        val written = writeBuckets(fragment, bucket, keyColumn, root,
          s"v$version-$attempt", touchedEntries.map(_.bucket).distinct.size,
          cmp, seq = version, colMap = prior.colMap)
        if (tryCommitManifest(spark, root, Manifest(version, n,
            untouched ++ written, batches, deleteToken, attempt,
            keyColumn, prior.keyExpr, prior.lastCompact,
            prior.rangeBounds, prior.schemaJson, prior.udfKey,
            clusterCol = prior.clusterCol, colMap = prior.colMap,
            splits = prior.splits)))
          return written
        cleanupAttempt(spark, root, version, attempt)
      }
    }
    Nil // unreachable
  }

  /** Row-level DELETE by ARBITRARY predicate — the complement to the
    * metadata-served key [[delete]] (SQL `DELETE FROM t WHERE <key>`
    * keeps that path; this one serves every other WHERE through
    * [[GraftDmlStrategy]], and the Scala API directly). Two passes,
    * one commit: a DISCOVERY scan of the current state filtered by the
    * predicate — zone/bloom/key pruning fire on whatever of it pushes
    * down — reduced to the ≤ numBuckets distinct touched buckets
    * (always driver-bounded); then only THOSE buckets' reconciled
    * contents rewrite without the matching rows, untouched buckets
    * carry as metadata, one OCC manifest swap. SQL NULL semantics: a
    * row deletes only when the predicate is TRUE — NULL/false keep
    * (the keep-filter is `NOT coalesce(p, false)`). `condition` is a
    * builder so the caller binds it to each pass's own frame; it must
    * be deterministic (both passes must see the same rows). Cost:
    * one pruned scan + |touched buckets| rewrites — a full-table
    * rewrite only when the predicate matches everywhere.
    *
    * `zoneRanges` is an optional DISCOVERY hint: per-column
    * [lo, hi] facts the predicate already implies (inclusive; null =
    * open side). When the table carries zone sidecars for those
    * columns, the discovery scan skips every file whose zones prove
    * the range empty ([[ZoneSkip.prunedEntries]] — the explicit-read
    * sidecars don't ride the scan's own pushdown, so the hint is how
    * a predicate delete on a clustered/z-ordered column touches only
    * candidate files). SOUNDNESS is the caller's contract: every row
    * the predicate matches must satisfy the hint (the hint may be
    * weaker, never stronger); the SQL path derives it mechanically
    * from the statement's own conjuncts, which satisfies this by
    * construction. Uncovered files always stay in. The REWRITE still
    * reads full touched buckets — only discovery narrows.
    *
    * `bloomProbes` is the EQUALITY twin ((column, values) pairs the
    * predicate implies membership of — `c = v` / `c IN (...)`
    * conjuncts): discovery drops every file the bloom sidecars prove
    * holds none of the values, which serves the unclustered
    * high-cardinality columns zones cannot. Same weaker-never-stronger
    * contract; both hints intersect. */
  /** `delta = true` routes the predicate delete through the TOMBSTONE
    * cost class ([[delete]]'s `delta` mode, row-160 discipline): the
    * pruned discovery scan — the same zone/bloom/index-hinted read the
    * rewrite mode pays anyway — derives the MATCHED KEYS, and the
    * commit writes one slim key-only tombstone file per touched bucket
    * instead of rewriting every candidate file in full. Write cost is
    * ∝ matched rows (a GDPR `deleteWhere(email = x)` that matches 10
    * rows of a 100 TB table writes kilobytes, not the multi-TB
    * candidate rewrite); the keys never funnel through the driver
    * (they shuffle straight into the bucketed tombstone write), so
    * millions of matches stream. Same exactness: tombstone keys come
    * from the reconciled live state, so they name exactly the rows the
    * predicate hit; reads reconcile them away, [[compact]] folds them,
    * and the change feed derives the same delete rows. Needs a
    * recordable comparator like every tombstone write (refused on
    * udfKey layouts). */
  def deleteWhere(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      condition: DataFrame => org.apache.spark.sql.Column,
      token: Long,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity,
      tokenStream: Option[String] = None,
      zoneRanges: Seq[(String, Any, Any)] = Nil,
      bloomProbes: Seq[(String, Seq[Any])] = Nil,
      indexProbes: Seq[(String, Seq[Any])] = Nil,
      delta: Boolean = false,
      commitOnMiss: Boolean = true): Seq[FileEntry] =
    rewriteWhere(spark, root, schema, condition, token, keyComparator,
      tokenStream, zoneRanges, bloomProbes, indexProbes, "deleteWhere",
      (df, _) => df.filter(!coalesce(condition(df), lit(false))),
      tombstone = delta, commitOnMiss = commitOnMiss)

  /** Row-level UPDATE by ARBITRARY predicate — [[deleteWhere]]'s
    * projection twin, and the PATH-table face of SQL `UPDATE`
    * (catalog idents get it through [[GraftDmlStrategy]]; path idents
    * through the ``graft.`/path` `` catalog form or the
    * `graft_update(...)` table function). Same two-pass shape, same
    * discovery hints, same OCC commit: matching rows rewrite with
    * `assign`'s columns substituted (cast to the schema's types),
    * non-matching rows of touched buckets carry verbatim, untouched
    * buckets ride as metadata. A NULL/false predicate keeps the row
    * unchanged (SQL UPDATE semantics). `assign` must not touch the
    * key column — re-keying is a DELETE + INSERT (or MERGE INTO) —
    * which is also what keeps every rewritten row in its own bucket,
    * so the rewrite stays bucket-local under ANY key comparator.
    * Replays through the `tokenStream` ledger (default stream
    * `"graft-update-where"`). */
  def updateWhere(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      assign: DataFrame => Seq[(String, org.apache.spark.sql.Column)],
      condition: DataFrame => org.apache.spark.sql.Column,
      token: Long,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity,
      tokenStream: Option[String] = Some("graft-update-where"),
      zoneRanges: Seq[(String, Any, Any)] = Nil,
      bloomProbes: Seq[(String, Seq[Any])] = Nil,
      indexProbes: Seq[(String, Seq[Any])] = Nil): Seq[FileEntry] =
    rewriteWhere(spark, root, schema, condition, token, keyComparator,
      tokenStream, zoneRanges, bloomProbes, indexProbes, "updateWhere",
      (df, keyColumn) => {
        val sets = assign(df)
        require(sets.nonEmpty, "updateWhere needs at least one assignment")
        sets.foreach { case (c, _) =>
          require(schema.fieldNames.contains(c),
            s"assigned column '$c' not in the schema")
          require(c != keyColumn,
            s"UPDATE must not assign the key column '$keyColumn' — " +
              "re-keying a row is a DELETE + INSERT (or MERGE INTO)")
        }
        val byName = sets.toMap
        val hit = coalesce(condition(df), lit(false))
        df.select(schema.fields.toSeq.map { f =>
          byName.get(f.name) match {
            case Some(v) =>
              when(hit, v.cast(f.dataType)).otherwise(df(f.name))
                .as(f.name)
            case None => df(f.name)
          }
        }: _*)
      })

  private def rewriteWhere(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      condition: DataFrame => org.apache.spark.sql.Column,
      token: Long,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      tokenStream: Option[String],
      zoneRanges: Seq[(String, Any, Any)],
      bloomProbes: Seq[(String, Seq[Any])],
      indexProbes: Seq[(String, Seq[Any])],
      label: String,
      fragmentOf: (DataFrame, String) => DataFrame,
      tombstone: Boolean = false,
      commitOnMiss: Boolean = true): Seq[FileEntry] = {
    while (true) {
      val prior = currentManifest(spark, root).getOrElse(return Nil)
      val replayed = tokenStream match {
        case Some(s) => prior.lastBatches.get(s).contains(token)
        case None => prior.lastDelete.contains(token)
      }
      if (replayed) return Nil
      checkSchemaCompatible(prior, schema, label, allowAdd = true)
      if (tombstone) require(!prior.udfKey,
        s"$label(delta = true) needs a recordable key comparator — a " +
          "udfKey layout's readers cannot reconcile tombstones in " +
          "normalized key space")
      val keyColumn = prior.keyColumn
      require(keyColumn.nonEmpty, s"table at $root records no key column")
      val batches = tokenStream.fold(prior.lastBatches)(s =>
        prior.lastBatches + (s -> token))
      val deleteToken =
        if (tokenStream.isEmpty) Some(token) else prior.lastDelete
      val attempt = newAttemptId()
      val version = prior.version + 1
      val n = prior.numBuckets
      val cmp = effectiveKey(prior, keyComparator)
      val bucket = leafExpr(prior, cmp(col(keyColumn)))
      // discovery: the predicate's TRUE rows, reduced to their buckets —
      // ≤ numBuckets result rows, bounded at any table size; a zone
      // hint narrows the scanned entries to sidecar-candidate files
      val zonePruned =
        if (zoneRanges.isEmpty) prior.entries
        else ZoneSkip.prunedEntries(spark, root, schema, prior,
          zoneRanges)
      val bloomPruned = bloomProbes
        .filter { case (_, vs) => vs.nonEmpty }
        .foldLeft(zonePruned) { case (es, (c, vs)) =>
          if (es.isEmpty) es
          else {
            val keep = BloomSkip.prunedEntriesFor(spark, root, schema,
              prior, c, vs)._1.map(_.relPath).toSet
            es.filter(e => keep(e.relPath))
          }
        }
      // index hint: a FRESH registered index on a probed column names
      // the exact keys holding those values, so discovery narrows to
      // their buckets — re-derived per OCC attempt against `prior`, so
      // a retry never reuses answers from a superseded snapshot. A
      // value set the index proves EMPTY empties discovery (sound: the
      // conjunct alone excludes every row). Lagging index, null-keyed
      // files, or a key-column probe decline to the wider set.
      val discEntries = indexProbes
        .filter { case (c, vs) => vs.nonEmpty && c != keyColumn }
        .foldLeft(bloomPruned) { case (es, (c, vs)) =>
          if (es.isEmpty) es
          else SecondaryIndex
            .hintBuckets(spark, root, schema, prior, c, vs) match {
              case Some(bks) => es.filter(e => bks(e.bucket))
              case None => es
            }
        }
      val touched: Set[Int] =
        if (discEntries.isEmpty) Set.empty
        else {
          val state = reconciledRead(spark, root, schema, prior,
            discEntries, keyColumn, cmp)
          state.filter(coalesce(condition(state), lit(false)))
            .select(bucket.as("_b")).distinct()
            .collect().map(_.getInt(0)).toSet
        }
      val (touchedEntries, untouched) =
        prior.entries.partition(e => touched(e.bucket))
      if (touchedEntries.isEmpty) {
        // nothing matched: commit the token so replays no-op, like the
        // keyed delete's miss path — unless the caller opted out
        // (the declared-TTL hook: a per-commit probe must not CHURN a
        // version per miss; it has no replay problem because a lost
        // race simply retries on the next commit)
        if (!commitOnMiss) return Nil
        if (tryCommitManifest(spark, root, Manifest(version, n,
            prior.entries, batches, deleteToken, attempt,
            prior.keyColumn, prior.keyExpr, prior.lastCompact,
            prior.rangeBounds, prior.schemaJson, prior.udfKey,
            clusterCol = prior.clusterCol, colMap = prior.colMap,
            splits = prior.splits)))
          return Nil
      } else if (tombstone) {
        // TOMBSTONE mode: re-evaluate the predicate over the touched
        // buckets' reconciled live state and keep only the KEY column —
        // exact (names only rows that exist and match), slim (the write
        // is keys, not rows), distributed (keys shuffle straight into
        // the bucketed write — no driver funnel, millions of matches
        // stream). Null keys are inert in the reconcile's anti-join and
        // are dropped so hash(null) can't bucket them.
        val reconciled = reconciledRead(spark, root, schema, prior,
          touchedEntries, keyColumn, cmp)
        val keysDf = reconciled
          .filter(coalesce(condition(reconciled), lit(false)))
          .filter(col(keyColumn).isNotNull &&
            cmp(col(keyColumn)).isNotNull)
          .select(col(keyColumn))
        val written = writeBuckets(keysDf, bucket, keyColumn, root,
          s"v$version-$attempt", touchedEntries.map(_.bucket).distinct.size,
          cmp, seq = version, colMap = prior.colMap)
          .map(_.copy(tomb = true))
        if (tryCommitManifest(spark, root, Manifest(version, n,
            prior.entries ++ written, batches, deleteToken, attempt,
            keyColumn, prior.keyExpr, prior.lastCompact,
            prior.rangeBounds, prior.schemaJson, prior.udfKey,
            clusterCol = prior.clusterCol, colMap = prior.colMap,
            splits = prior.splits)))
          return written
        cleanupAttempt(spark, root, version, attempt)
      } else {
        val reconciled = reconciledRead(spark, root, schema, prior,
          touchedEntries, keyColumn, cmp)
        val fragment = fragmentOf(reconciled, keyColumn)
        val written = writeBuckets(fragment, bucket, keyColumn, root,
          s"v$version-$attempt", touchedEntries.map(_.bucket).distinct.size,
          cmp, seq = version, colMap = prior.colMap)
        if (tryCommitManifest(spark, root, Manifest(version, n,
            untouched ++ written, batches, deleteToken, attempt,
            keyColumn, prior.keyExpr, prior.lastCompact,
            prior.rangeBounds, prior.schemaJson, prior.udfKey,
            clusterCol = prior.clusterCol, colMap = prior.colMap,
            splits = prior.splits)))
          return written
        cleanupAttempt(spark, root, version, attempt)
      }
    }
    Nil // unreachable
  }

  /** SQL `MERGE INTO` executor ([[GraftDmlStrategy]] validates and
    * calls): ONE full-outer join of the source against the reconciled
    * contents of only the SOURCE KEYS' buckets, per-clause disposition
    * computed row-wise, one OCC commit making updates + deletes +
    * inserts visible atomically. The clause expressions arrive exactly
    * as the analyzer resolved them (referencing `targetOutput`'s and
    * `source.output`'s attribute ids); the touched-buckets fragment is
    * alias-projected onto `targetOutput`'s ids so every clause
    * expression resolves against the join without rewriting.
    *
    * Scale shape = the incremental [[merge]]'s: the join shuffles only
    * the touched buckets + the source (Catalyst broadcasts a small
    * source), bucket targeting is a bounded ≤`numBuckets` aggregate
    * that doubles as the key-uniqueness check, untouched buckets ride
    * the commit as metadata. `WHEN NOT MATCHED BY SOURCE` clauses need
    * every target row classified, so they touch EVERY bucket — the
    * honest full-table cost of that clause.
    *
    * The source must be key-unique: a keyed table can hold one row per
    * key, so two source rows sharing an ON key are ill-defined here
    * whatever the SQL standard's multi-match rule would say (it errors
    * too, just only for matched pairs). Null-keyed source rows are
    * dropped before the join (a null key matches nothing; "inserting"
    * it would write a row no key-matched operation can ever address —
    * the same contract as [[merge]]). */
  // scalastyle:off method.length
  def mergeInto(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      targetOutput: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      source: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      sourceKey: org.apache.spark.sql.catalyst.expressions.Expression,
      mergeCondition: org.apache.spark.sql.catalyst.expressions.Expression,
      matchedActions: Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction],
      notMatchedActions: Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction],
      notMatchedBySourceActions: Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction],
      token: Long,
      tokenStream: String = "graft-sql-merge"): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, And, Attribute, AttributeReference, CaseWhen, Cast,
      EqualTo, Expression, GreaterThanOrEqual, IsNotNull, IsNull,
      Literal}
    import org.apache.spark.sql.catalyst.plans.FullOuter
    import org.apache.spark.sql.catalyst.plans.logical.{
      DeleteAction, Filter, InsertAction, Join, JoinHint, Project,
      UpdateAction}
    import org.apache.spark.sql.graft.{Bridge, RelationBridge}
    while (true) {
      val prior = currentManifest(spark, root).getOrElse(
        throw new IllegalStateException(s"no manifest table at $root"))
      if (prior.lastBatches.get(tokenStream).contains(token)) return
      checkSchemaCompatible(prior, schema, "MERGE INTO", allowAdd = false)
      val key = prior.keyColumn
      require(key.nonEmpty, s"table at $root records no key column")
      // raw-vs-normalized key space mixing guard (the strategy checks
      // too; direct API callers get the same refusal)
      require(prior.keyExpr.isEmpty && !prior.udfKey,
        s"table at $root is laid out by a normalized key comparator — " +
          "mergeInto matches raw ON-key values; use merge() with the " +
          "comparator-holding mapping instead")
      val n = prior.numBuckets
      val bounds = prior.rangeBounds
      val attempt = newAttemptId()
      val version = prior.version + 1
      val keyType = schema(key).dataType

      // 1. ONE bounded job over the slim source-key projection answers
      //    both plan questions: which buckets the merge touches, and
      //    whether any key appears twice (≤ n result rows either way).
      //    The cast matches the key column's native type BEFORE
      //    bucketing — Spark's hash is type-dependent, so an uncast
      //    int probing a bigint key would target the wrong bucket.
      val srcDf = RelationBridge.ofRows(spark, source)
      val keyStats = srcDf
        .select(Bridge.column(sourceKey).cast(keyType).as(key))
        .filter(col(key).isNotNull)
        .groupBy(col(key)).agg(count(lit(1)).as("_c"))
        .select(leafExpr(n, bounds, prior.splits, col(key)).as("_b"),
          col("_c"))
        .groupBy(col("_b"))
        .agg(sum("_c").as("_n"), max("_c").as("_mx"))
        .collect()
      require(!keyStats.exists(_.getAs[Long]("_mx") > 1L),
        s"MERGE INTO a keyed graft table requires the source unique " +
          s"by the ON key ('$key') — aggregate or dedup the source " +
          "first (a keyed table holds one row per key)")
      val srcBuckets = keyStats.map(_.getAs[Int]("_b")).toSet
      val touched: Set[Int] =
        if (notMatchedBySourceActions.nonEmpty)
          prior.entries.map(_.bucket).toSet ++ srcBuckets
        else srcBuckets
      val (touchedEntries, untouched) =
        prior.entries.partition(e => touched(e.bucket))

      // 2. fragment = reconciled read of only the touched buckets,
      //    alias-projected onto the target relation's attribute ids
      //    (plus a presence tag per side: full-outer missing-side
      //    detection must not rely on column nullability)
      val fragment = reconciledRead(spark, root,
        recordableSchema(Some(prior), schema), prior, touchedEntries, key)
      val fPlan = fragment.queryExecution.analyzed
      val fByName: Map[String, Attribute] =
        fPlan.output.map(a => a.name -> a).toMap
      val aliasedTarget = Project(
        targetOutput.map(a => Alias(fByName(a.name), a.name)(
          exprId = a.exprId, qualifier = a.qualifier)) :+
          Alias(Literal(true), "__graft_t")(),
        fPlan)
      val tTag = aliasedTarget.output.last
      val taggedSource = Project(
        source.output :+ Alias(Literal(true), "__graft_s")(),
        Filter(IsNotNull(sourceKey), source))
      val sTag = taggedSource.output.last
      val joined = Join(aliasedTarget, taggedSource, FullOuter,
        Some(mergeCondition), JoinHint.NONE)

      // 3. disposition: first applicable clause wins, SQL order —
      //    matched clauses (fall back KEEP), not-matched clauses (fall
      //    back DROP: an unmatched source row nobody INSERTs vanishes),
      //    not-matched-by-source clauses (fall back KEEP). Codes:
      //    action index ≥ 0 applies that action, -1 keeps the target
      //    row, -2 drops the row (DELETE and no-insert both).
      val matchedE = And(IsNotNull(tTag), IsNotNull(sTag))
      val sOnly = And(IsNull(tTag), IsNotNull(sTag))
      val tOnly = And(IsNotNull(tTag), IsNull(sTag))
      val KEEP = Literal(-1); val DROP = Literal(-2)
      val allActions =
        matchedActions ++ notMatchedActions ++ notMatchedBySourceActions
      def codeOf(a: org.apache.spark.sql.catalyst.plans.logical.MergeAction,
          idx: Int): Literal = a match {
        case _: DeleteAction => DROP
        case _ => Literal(idx)
      }
      def clauseBranches(
          guard: Expression,
          actions: Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction],
          offset: Int): Seq[(Expression, Literal)] =
        actions.zipWithIndex.map { case (a, i) =>
          (a.condition.map(And(guard, _)).getOrElse(guard),
            codeOf(a, offset + i))
        }
      val branches =
        clauseBranches(matchedE, matchedActions, 0) ++
          Seq((matchedE, KEEP)) ++
          clauseBranches(sOnly, notMatchedActions, matchedActions.size) ++
          Seq((sOnly, DROP)) ++
          clauseBranches(tOnly, notMatchedBySourceActions,
            matchedActions.size + notMatchedActions.size)
      val withDisp = Project(
        joined.output :+ Alias(CaseWhen(branches, Some(KEEP)),
          "__graft_disp")(),
        joined)
      val disp = withDisp.output.last
      val kept = Filter(GreaterThanOrEqual(disp, Literal(-1)), withDisp)

      // 4. output columns: per action, the assignment's value (UPDATE:
      //    unassigned columns keep the target's; INSERT: unassigned
      //    columns are NULL), else the target's own value
      def assignedName(a: org.apache.spark.sql.catalyst.plans.logical.Assignment)
          : String = a.key match {
        case ar: AttributeReference => ar.name
        case other => throw new UnsupportedOperationException(
          "MERGE assigns top-level columns only, got " + other.sql)
      }
      val tByName = targetOutput.map(a => a.name -> a).toMap
      val outProj = schema.fields.toSeq.map { f =>
        val ta = tByName(f.name)
        def fit(e: Expression): Expression =
          if (e.dataType == f.dataType) e else Cast(e, f.dataType)
        val valueBranches: Seq[(Expression, Expression)] =
          allActions.zipWithIndex.flatMap {
            case (UpdateAction(_, assigns, _), i) =>
              assigns.find(assignedName(_) == f.name).map(asg =>
                (EqualTo(disp, Literal(i)), fit(asg.value)))
            case (InsertAction(_, assigns), i) =>
              Some((EqualTo(disp, Literal(i)),
                assigns.find(assignedName(_) == f.name).map(a => fit(a.value))
                  .getOrElse(Literal(null, f.dataType))))
            case (_: DeleteAction, _) => None
            case (other, _) => throw new IllegalStateException(
              // UPDATE */INSERT * are pre-resolution placeholders the
              // analyzer expands; an unexpanded one here means the plan
              // never finished analysis
              s"unresolved MERGE action: $other")
          }
        Alias(
          if (valueBranches.isEmpty) (ta: Expression)
          else CaseWhen(valueBranches, Some(ta)),
          f.name)()
      }
      val outDf = RelationBridge.ofRows(spark, Project(outProj, kept))

      // 5. write the touched buckets + atomic manifest swap — the
      //    delete/merge commit skeleton (losers clean their attempt
      //    dirs and recompute against the new state)
      val written = writeBuckets(outDf,
        leafExpr(n, bounds, prior.splits, col(key)), key, root,
        s"v$version-$attempt", math.max(touched.size, 1), seq = version,
        colMap = prior.colMap)
      if (tryCommitManifest(spark, root, Manifest(version, n,
          untouched ++ written,
          prior.lastBatches + (tokenStream -> token),
          prior.lastDelete, attempt, key, prior.keyExpr,
          prior.lastCompact, bounds,
          recordableSchema(Some(prior), schema).json,
          udfKey = prior.udfKey, clusterCol = prior.clusterCol,
          colMap = prior.colMap, splits = prior.splits)))
        return
      cleanupAttempt(spark, root, version, attempt)
    }
  }
  // scalastyle:on method.length

  /** Maintenance re-bucketing: rewrites the WHOLE table under a new
    * bucket count — the one operation here whose cost is the full
    * table, by design: a key's bucket is part of the layout, so the
    * count is otherwise fixed at creation. Run it (rarely) when the
    * table has outgrown its creation-time sizing — e.g. 16 buckets
    * that were comfortable at 1 TB are 6 TB apiece at 100 TB, making
    * every MERGE's touched-bucket rewrite too coarse. Commits through
    * the same atomic no-overwrite manifest swap (conflicts retry);
    * `token` shares the maintenance token space with [[delete]]
    * (guarded by `lastDelete`), and `lastBatch` carries through so
    * streaming replay detection is unaffected. */
  def rebucket(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      keyColumn: String,
      newNumBuckets: Int,
      token: Long,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity,
      newRangeBounds: Seq[String] = Nil): Unit = {
    while (true) {
      val prior = currentManifest(spark, root).getOrElse(
        throw new IllegalStateException(s"no table at $root"))
      if (prior.lastDelete.contains(token)) return
      checkSchemaCompatible(prior, schema, "rebucket", allowAdd = true)
      val attempt = newAttemptId()
      val version = prior.version + 1
      val all = readManifestState(spark, root, schema, Some(prior))
      val cmp = effectiveKey(prior, keyComparator)
      // Rebucketing a table re-lays it out under the new count as a
      // HASH layout; re-balancing a range table means choosing new
      // boundaries, which only the caller can do (pass them through
      // newRangeBounds).
      if (newRangeBounds.nonEmpty)
        require(newRangeBounds.size == newNumBuckets - 1,
          s"range layout needs ${newNumBuckets - 1} boundaries, got " +
            s"${newRangeBounds.size}")
      val bucket = bucketExpr(newNumBuckets, newRangeBounds,
        cmp(col(keyColumn)))
      val written = writeBuckets(all, bucket, keyColumn, root,
        s"v$version-$attempt", newNumBuckets, cmp, seq = version,
        colMap = prior.colMap)
      if (tryCommitManifest(spark, root, Manifest(version, newNumBuckets,
          written, prior.lastBatches, Some(token), attempt, keyColumn,
          prior.keyExpr, prior.lastCompact, newRangeBounds,
          prior.schemaJson, prior.udfKey, colMap = prior.colMap)))
        return // rebucket re-lays out whole: clusterCol + splits reset
      cleanupAttempt(spark, root, version, attempt)
    }
  }

  /** ONLINE BUCKET SPLIT — bucket-count evolution without [[rebucket]]'s
    * full-table rewrite. The one cost class that otherwise grows with
    * TABLE size instead of change rate is bucket BYTES: `numBuckets`
    * is fixed at creation, so a table created at 1 TB that grows to
    * 100 TB has 100× oversized buckets, and every touched-bucket op
    * (merge rewrite, delete, lookup scan) pays them. This splits ONLY
    * the leaves over `maxBytes` — each into 2^k children sized back
    * under the threshold (k from the leaf's own recorded bytes) — as a
    * leaf-local rewrite: untouched leaves carry their entries verbatim,
    * and the manifest records the split tree ([[Manifest.splits]]) so
    * [[leafExpr]] keeps addressing every key correctly for merges,
    * probes, DML discovery, compaction and the change feed. Reconciles
    * the leaf's delta/tombstone files as a side effect (the rewrite is
    * a [[compact]] of that leaf). Split leaves lose their cluster-sort
    * claim (`sorted = false` — declared layout maintenance re-sorts
    * them on its next pass). Co-bucketed `BucketSpec` claims decline
    * once a table is split (leaf ids exceed `numBuckets` — the read
    * side must never promise Spark's own bucket addressing); that is
    * the one optimization splitting trades away, and [[rebucket]]
    * restores it when wanted.
    *
    * Cost ∝ over-threshold leaf bytes — the data that must move under
    * ANY re-layout — never table size. Token-replayed like [[delete]]
    * (`lastDelete` slot, or a caller-named stream); a no-split call
    * commits the token only (`commitOnNoSplit = false` for hook-driven
    * callers, the [[recluster]] discipline). Returns the leaf values
    * that split. */
  def splitBuckets(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      token: Long,
      maxBytes: Long,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity,
      tokenStream: Option[String] = None,
      commitOnNoSplit: Boolean = true): Seq[Int] = {
    require(maxBytes > 0, "maxBytes must be > 0")
    while (true) {
      val prior = currentManifest(spark, root).getOrElse(
        throw new IllegalStateException(s"no table at $root"))
      val replayed = tokenStream match {
        case Some(s) => prior.lastBatches.get(s).contains(token)
        case None => prior.lastDelete.contains(token)
      }
      if (replayed) return Nil
      checkSchemaCompatible(prior, schema, "splitBuckets", allowAdd = true)
      val keyColumn = prior.keyColumn
      require(keyColumn.nonEmpty,
        s"table at $root records no key column — splitting needs the " +
          "key to re-address rows")
      val attempt = newAttemptId()
      val version = prior.version + 1
      val batches = tokenStream.fold(prior.lastBatches)(s =>
        prior.lastBatches + (s -> token))
      val deleteToken =
        if (tokenStream.isEmpty) Some(token) else prior.lastDelete
      val byLeaf = prior.entries.groupBy(_.bucket)
      // threshold on RECORDED bytes (every format-4+ writer records
      // them); a leaf whose entries predate byte recording reads 0 and
      // never splits — conservative, and one compact refreshes it
      val oversize: Map[Int, Long] = byLeaf.view
        .mapValues(_.map(_.bytes).sum).filter(_._2 > maxBytes).toMap
      if (oversize.isEmpty) {
        if (!commitOnNoSplit) return Nil
        if (tryCommitManifest(spark, root, Manifest(version,
            prior.numBuckets, prior.entries, batches, deleteToken,
            attempt, keyColumn, prior.keyExpr, prior.lastCompact,
            prior.rangeBounds, prior.schemaJson, prior.udfKey,
            clusterCol = prior.clusterCol, colMap = prior.colMap,
            splits = prior.splits)))
          return Nil
      } else {
        // per oversize leaf: the 2^k fanout that lands children back
        // under maxBytes, recorded as the leaf's full k-level subtree
        // of split nodes (the data moves ONCE, straight to the final
        // leaves). Depth is bounded so leaf values stay in Int range.
        var newSplits = prior.splits
        var fanoutTotal = 0
        oversize.foreach { case (leaf, bytes) =>
          val d0 = leafDepth(prior, leaf)
          var k = 1
          while ((bytes >> k) > maxBytes && k < 20) k += 1
          while ((prior.numBuckets.toLong << (d0 + k)) > Int.MaxValue &&
              k > 0) k -= 1
          require(k >= 1,
            s"leaf $leaf at depth $d0 cannot split further without " +
              s"overflowing bucket addressing (numBuckets " +
              s"${prior.numBuckets})")
          // subtree: all internal nodes of the k-level fanout under
          // (leaf, d0) — node (x, d) has children x and x + N·2^d
          var frontier = Seq((leaf, d0))
          (0 until k).foreach { _ =>
            newSplits = newSplits ++ frontier
            frontier = frontier.flatMap { case (x, d) =>
              Seq((x, d + 1),
                ((x.toLong + (prior.numBuckets.toLong << d)).toInt, d + 1))
            }
          }
          fanoutTotal += frontier.size
        }
        val touchedEntries = prior.entries.filter(e =>
          oversize.contains(e.bucket))
        val untouched = prior.entries.filterNot(e =>
          oversize.contains(e.bucket))
        val cmp = effectiveKey(prior, keyComparator)
        val fragment = reconciledRead(spark, root, schema, prior,
          touchedEntries, keyColumn, cmp)
        val bucket = leafExpr(prior.numBuckets, prior.rangeBounds,
          newSplits, cmp(col(keyColumn)))
        val written = writeBuckets(fragment, bucket, keyColumn, root,
          s"v$version-$attempt", fanoutTotal, cmp, seq = version,
          colMap = prior.colMap)
        if (tryCommitManifest(spark, root, Manifest(version,
            prior.numBuckets, untouched ++ written, batches, deleteToken,
            attempt, keyColumn, prior.keyExpr, prior.lastCompact,
            prior.rangeBounds, prior.schemaJson, prior.udfKey,
            clusterCol = prior.clusterCol, colMap = prior.colMap,
            splits = newSplits)))
          return oversize.keys.toSeq.sorted
        cleanupAttempt(spark, root, version, attempt)
      }
    }
    Nil // unreachable
  }

  /** The schema a write onto an EXISTING table may record: per-column
    * nullability NEVER tightens. A recorded-nullable column stays
    * nullable even when this batch's frame proves its own values
    * non-null (an `INSERT ... VALUES (1, 'x')` carries all-non-null
    * literals), and a column NEW to the table records nullable
    * regardless of the frame — every pre-existing file lacks it and
    * reads it as NULL. Recording the tightened schema instead makes
    * the vectorized parquet reader REFUSE those older files
    * ("Required column is missing"). Fresh tables record the frame's
    * own nullability (there are no older files to contradict it). */
  private def recordableSchema(
      prior: Option[Manifest],
      s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    prior.flatMap(schemaOf) match {
      case None => s
      case Some(r) =>
        val recordedNullable =
          r.fields.map(f => f.name -> f.nullable).toMap
        org.apache.spark.sql.types.StructType(s.fields.map { f =>
          recordedNullable.get(f.name) match {
            case Some(pn) => f.copy(nullable = pn || f.nullable)
            case None => f.copy(nullable = true) // new to the table
          }
        })
    }

  /** ADD-ONLY schema evolution as a METADATA-ONLY commit: records
    * `newSchema` as the table's schema without touching a data file —
    * old files simply lack the new columns and read as NULLs (the same
    * projection rule every add-only read already applies), so evolving
    * a 100 TB table costs one manifest write. The write-side evolution
    * (`merge(evolveSchema = true)`) remains for callers whose DATA
    * introduces the column; this is the DDL face (`ALTER TABLE ... ADD
    * COLUMNS` through the catalog). Dropping or re-typing recorded
    * columns refuses ([[checkSchemaCompatible]]); an evolution to the
    * ALREADY-recorded schema no-ops without committing. */
  def evolveSchema(
      spark: SparkSession,
      root: String,
      newSchema: org.apache.spark.sql.types.StructType): Unit = {
    while (true) {
      val prior = currentManifest(spark, root).getOrElse(
        throw new IllegalStateException(s"no table at $root"))
      checkSchemaCompatible(prior, newSchema, "evolveSchema",
        allowAdd = true)
      if (schemaOf(prior).contains(newSchema)) return // already recorded
      if (tryCommitManifest(spark, root, Manifest(prior.version + 1,
          prior.numBuckets, prior.entries, prior.lastBatches,
          prior.lastDelete, newAttemptId(), prior.keyColumn,
          prior.keyExpr, prior.lastCompact, prior.rangeBounds,
          newSchema.json, prior.udfKey, clusterCol = prior.clusterCol,
          colMap = prior.colMap, splits = prior.splits)))
        return
      // OCC loss: metadata-only, nothing to clean — retry on new state
    }
  }

  /** COLUMN RENAME as a METADATA-ONLY commit (the Delta column-mapping
    * trick, name-mapping flavor): the column keeps its PHYSICAL on-file
    * name forever — fixed when it was first written — and the rename
    * just remaps the logical name onto it ([[Manifest.colMap]]), so
    * renaming a column of a 100 TB table costs one manifest write and
    * not a single data file moves. Everything manifest-recorded in
    * logical space follows in the same commit: the recorded schema,
    * `keyColumn`, `clusterCol`, and — when the KEY is renamed under a
    * recorded comparator — `keyExpr` is re-derived with the attribute
    * renamed (parse → rename → re-analyze → SQL, the [[comparatorSql]]
    * round-trip discipline). Time travel is exact: every retained
    * version reads under its OWN recorded names.
    *
    * Out-of-band artifacts do NOT follow automatically: bloom/zone
    * sidecars ([[BloomSkip]]/[[ZoneSkip]]) record build-time logical
    * names, so existing sidecars for the renamed column stop matching
    * (conservative — lookups keep everything) until rebuilt, and a
    * [[SecondaryIndex]]/[[MaterializedView]] whose definition names the
    * column must be rebuilt by its owner. History files
    * ([[historyOf]]) keep the names they were written under — an audit
    * trail is names-as-of-then by design. */
  /** DROP COLUMN as a METADATA-ONLY commit (the column-mapping trick's
    * other half): the recorded schema loses the field, not a data file
    * moves — readers simply stop projecting the column (parquet reads
    * a subset of a file's columns natively), later bucket rewrites
    * shed it physically as they happen, and a full [[compact]] is the
    * explicit "physically gone everywhere" lever. Dropping a column of
    * a 100 TB table costs one manifest write.
    *
    * The dropped column's PHYSICAL name stays CLAIMED forever (a
    * `#drop:` sentinel in `colMap`): old files still hold its values
    * under that name, so re-adding a same-named column would leak them
    * into the new column on mixed reads —
    * [[checkPhysicalCollision]] refuses, same as for renamed-away
    * physical names (re-add under a fresh name, or rename after
    * adding). Time travel is exact (each retained version reads under
    * its OWN recorded schema, pre-drop versions keep the column);
    * clones carry the sentinel; CDC windows crossing the drop read
    * under the newest schema like every spanning read.
    *
    * Refused for: the KEY column (the table's addressing), the
    * CLUSTER column (the layout claim would dangle), and any column a
    * live CHECK constraint references (the rename discipline — a
    * silently-unresolvable check would disable the data contract).
    * Index/view registrations naming the column self-deactivate
    * (their readers skip registrations whose columns left the
    * schema); their owners drop or rebuild them, as with rename. */
  def dropColumn(
      spark: SparkSession,
      root: String,
      name: String): Unit = {
    while (true) {
      val prior = currentManifest(spark, root).getOrElse(
        throw new IllegalStateException(s"no table at $root"))
      val schema = schemaOf(prior).getOrElse(
        throw new IllegalArgumentException(
          s"table at $root records no schema (pre-format-7) — run a " +
            "merge to upgrade the manifest before dropping"))
      require(schema.fieldNames.contains(name),
        s"no column '$name' in the recorded schema " +
          s"(${schema.fieldNames.mkString(", ")})")
      require(name != prior.keyColumn,
        s"cannot drop the key column '$name' — the table is addressed " +
          "by it; re-key into a new table instead")
      require(name != prior.clusterCol,
        s"cannot drop the cluster column '$name' — re-cluster the " +
          "table first (clusterBy another column), then drop")
      val referencing = constraintsOf(spark, root).collect {
        case (n, sql) if spark.sessionState.sqlParser
            .parseExpression(sql).references
            .exists(_.name.equalsIgnoreCase(name)) => n
      }
      require(referencing.isEmpty,
        s"cannot drop '$name': CHECK constraint(s) " +
          s"${referencing.mkString(", ")} reference it and would be " +
          "silently disabled — dropConstraint first")
      // the declared ROW-TTL column is a RETENTION CONTRACT, not an
      // advisory sidecar: dropping it would make the commit hook skip
      // expiry silently, forever (the GDPR failure mode the feature
      // exists to prevent) — same discipline as the constraint refusal
      maintenanceOf(spark, root).foreach { pol =>
        require(pol.ttlMs == 0L || pol.ttlColumn != name,
          s"cannot drop '$name': the declared ROW TTL judges it — " +
            "re-declare autoMaintain without the TTL first")
      }
      val newSchema = org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(_.name == name))
      val phys = physicalOf(prior, name)
      val cmap = (prior.colMap.filterNot(_._1 == name) ++
        Seq(s"#drop:$phys" -> phys)).sortBy(_._1)
      if (tryCommitManifest(spark, root, Manifest(prior.version + 1,
          prior.numBuckets, prior.entries, prior.lastBatches,
          prior.lastDelete, newAttemptId(), prior.keyColumn,
          prior.keyExpr, prior.lastCompact, prior.rangeBounds,
          newSchema.json, prior.udfKey, clusterCol = prior.clusterCol,
          colMap = cmap, splits = prior.splits)))
        return
      // OCC loss: metadata-only, nothing to clean — retry on new state
    }
  }

  /** The SAFE type widenings: every old file's values read back EXACTLY
    * under the wider type (Spark's parquet readers, vectorized and
    * row-based, widen INT32→long, FLOAT→double and decimal
    * precision natively — probed on this Spark in
    * SchemaEvolutionSpec), and every sidecar comparison domain is
    * unchanged (zone kinds already render integrals through `long`
    * and fractionals through `double`). */
  private def widensTo(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.precision > f.precision && t.scale == f.scale
      case _ => false
    }
  }

  /** TYPE WIDENING as a METADATA-ONLY commit: re-records the column at
    * a wider type ([[widensTo]] — int→long, float→double, decimal
    * precision-up at the same scale); old files keep their narrow
    * physical type and read back exactly under the wide one, new
    * writes land wide. The write funnel's exact-type check
    * ([[checkSchemaCompatible]]) then REFUSES stale narrow-schema
    * callers loudly — widening is opt-in per writer, never a silent
    * cast.
    *
    * Refused for: the KEY column (hash-bucket addressing hashes the
    * NATIVE type — `xxhash64`/`hash` of int 5 and long 5 differ, so
    * widening the key would strand every existing row in a bucket no
    * probe finds), and any column carrying committed BLOOM sidecar
    * rows (the same native-type hash discipline: filters built under
    * the narrow type would prove present values absent — rebuild-less
    * soundness beats convenience; zones are domain-stable and keep
    * pruning). A [[ColStats]] HLL sketch built under float renders
    * values differently than double — the NDV estimate may drift
    * after a float→double widen until stats rebuild; counts stay
    * exact. */
  def widenColumn(
      spark: SparkSession,
      root: String,
      name: String,
      to: org.apache.spark.sql.types.DataType): Unit = {
    while (true) {
      val prior = currentManifest(spark, root).getOrElse(
        throw new IllegalStateException(s"no table at $root"))
      val schema = schemaOf(prior).getOrElse(
        throw new IllegalArgumentException(
          s"table at $root records no schema (pre-format-7) — run a " +
            "merge to upgrade the manifest before widening"))
      val idx = schema.fieldNames.indexOf(name)
      require(idx >= 0,
        s"no column '$name' in the recorded schema " +
          s"(${schema.fieldNames.mkString(", ")})")
      val from = schema.fields(idx).dataType
      if (from == to) return // already wide enough: no-op, no commit
      require(widensTo(from, to),
        s"widenColumn('$name'): ${from.sql} -> ${to.sql} is not a safe " +
          "widening (allowed: integral up-casts, float -> double, " +
          "decimal precision increase at the same scale)")
      require(name != prior.keyColumn,
        s"cannot widen the key column '$name': bucket addressing " +
          "hashes the native type, so existing rows would land in " +
          "buckets no probe finds — re-key into a new table")
      val hasBloom = {
        val dirs = committedAdditiveDirs(spark, root, "bloom")
        dirs.nonEmpty && spark.read
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("column",
              org.apache.spark.sql.types.StringType))))
          .parquet(dirs: _*)
          .filter(col("column") === name).limit(1).count() > 0
      }
      require(!hasBloom,
        s"cannot widen '$name': committed bloom sidecar rows cover it, " +
          "and bloom filters hash the NATIVE type — probes under the " +
          "widened type would prove present values absent. Rebuild the " +
          "bloom sidecar after widening (drop the table's bloom/ dir " +
          "while no reader runs, then buildBlooms)")
      // a REGISTERED secondary index stores the column at its native
      // type: after a widen, every refresh would fail the index
      // table's exact-type schema check forever (warn-only under
      // declared maintenance) while direct lookupBy callers silently
      // read a frozen pre-widen snapshot — refuse loudly instead
      val indexed = SecondaryIndex
        .registered(spark, root, schema)
        .filter(_.valueCols.contains(name))
        .map(_.indexRoot)
      require(indexed.isEmpty,
        s"cannot widen '$name': registered secondary index(es) " +
          s"${indexed.mkString(", ")} store it at the native type and " +
          "would be permanently stranded — delete the index table " +
          "(its registration lapses), widen, then re-create it")
      val newSchema = org.apache.spark.sql.types.StructType(
        schema.fields.map(f =>
          if (f.name == name) f.copy(dataType = to) else f))
      if (tryCommitManifest(spark, root, Manifest(prior.version + 1,
          prior.numBuckets, prior.entries, prior.lastBatches,
          prior.lastDelete, newAttemptId(), prior.keyColumn,
          prior.keyExpr, prior.lastCompact, prior.rangeBounds,
          newSchema.json, prior.udfKey, clusterCol = prior.clusterCol,
          colMap = prior.colMap, splits = prior.splits)))
        return
      // OCC loss: metadata-only, nothing to clean — retry on new state
    }
  }

  def renameColumn(
      spark: SparkSession,
      root: String,
      from: String,
      to: String): Unit = {
    require(from != to, s"rename to the same name '$from' is a no-op")
    while (true) {
      val prior = currentManifest(spark, root).getOrElse(
        throw new IllegalStateException(s"no table at $root"))
      val schema = schemaOf(prior).getOrElse(
        throw new IllegalArgumentException(
          s"table at $root records no schema (pre-format-7) — run a " +
            "merge to upgrade the manifest before renaming"))
      require(schema.fieldNames.contains(from),
        s"no column '$from' in the recorded schema " +
          s"(${schema.fieldNames.mkString(", ")})")
      require(!schema.fieldNames.contains(to),
        s"column '$to' already exists")
      // a CHECK constraint referencing the old name would stop
      // RESOLVING after the rename — and an unresolvable check is
      // skipped at the write funnel, i.e. the rename would silently
      // disable the data contract. Refuse loudly instead; the
      // operator drops, renames, and re-declares under the new name.
      val referencing = constraintsOf(spark, root).collect {
        case (n, sql) if spark.sessionState.sqlParser
            .parseExpression(sql).references
            .exists(_.name.equalsIgnoreCase(from)) => n
      }
      require(referencing.isEmpty,
        s"cannot rename '$from': CHECK constraint(s) " +
          s"${referencing.mkString(", ")} reference it and would be " +
          "silently disabled — dropConstraint, rename, re-declare " +
          "under the new name")
      val newSchema = org.apache.spark.sql.types.StructType(
        schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
      // the physical name travels with the column; an entry whose
      // logical returns to its physical drops out (identity again)
      val phys = physicalOf(prior, from)
      val cmap = (prior.colMap.filterNot(_._1 == from) ++
        (if (to == phys) Nil else Seq(to -> phys))).sortBy(_._1)
      val newKeyExpr =
        if (prior.keyExpr.isEmpty || prior.keyColumn != from)
          prior.keyExpr
        else {
          import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          import org.apache.spark.sql.catalyst.expressions.Alias
          import org.apache.spark.sql.catalyst.plans.logical.Project
          val renamed = spark.sessionState.sqlParser
            .parseExpression(prior.keyExpr).transform {
              case a: UnresolvedAttribute if a.nameParts == Seq(from) =>
                UnresolvedAttribute(Seq(to))
            }
          emptyFrame(spark, newSchema)
            .select(org.apache.spark.sql.graft.Bridge.column(renamed))
            .queryExecution.analyzed match {
            case Project(Seq(a: Alias), _) => a.child.sql
            case Project(Seq(e), _) => e.sql
            case other => throw new IllegalStateException(
              s"unexpected keyExpr rewrite plan: $other")
          }
        }
      if (tryCommitManifest(spark, root, Manifest(prior.version + 1,
          prior.numBuckets, prior.entries, prior.lastBatches,
          prior.lastDelete, newAttemptId(),
          if (prior.keyColumn == from) to else prior.keyColumn,
          newKeyExpr, prior.lastCompact, prior.rangeBounds,
          newSchema.json, prior.udfKey,
          clusterCol = renameClusterCol(prior.clusterCol, from, to),
          colMap = cmap, splits = prior.splits)))
        return
      // OCC loss: metadata-only, nothing to clean — retry on new state
    }
  }

  /** Maintenance RE-CLUSTERING: rewrites the table's files ordered by
    * a chosen NON-KEY column, keeping the bucket layout (and so every
    * key-lookup/upsert/bucketed-join property) intact. This is what
    * makes zone maps ([[ZoneSkip]]) prune PRODUCTION tables: on the
    * key-hash layout a non-key column spans every bucket, so per-file
    * min/max ranges are all wide and a range probe keeps everything;
    * after clusterBy each bucket's files hold disjoint cluster-column
    * ranges, and — because the rewrite leaves every bucket single-seq
    * (each key exactly once, no cross-file overrides) — zone and bloom
    * pruning drop to FILE granularity on it, reading a handful of
    * files per range probe instead of the table.
    *
    * Cost is one whole-table rewrite (the [[rebucket]] class — run it
    * at the cadence layout drift warrants, not per merge); later
    * incremental merges append key-sorted files that simply don't
    * prune as tightly until the next clusterBy. Commits through the
    * same atomic manifest swap; `token` rides the maintenance token
    * space (`lastDelete`, replays no-op); time travel, CDC and the
    * sidecar rules are those of any other commit. The manifest records
    * `clusterCol` so the scan stops claiming within-file KEY sort
    * (files are cluster-sorted now — see [[Manifest.clusterCol]]).
    * `filesPerBucket` sizes the split: per-file zone selectivity is
    * ~1/(numBuckets × filesPerBucket) of the cluster domain. */
  def clusterBy(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      keyColumn: String,
      clusterCol: String,
      token: Long,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity,
      filesPerBucket: Int = 4): Unit = {
    require(filesPerBucket >= 1, "filesPerBucket must be >= 1")
    require(schema.fieldNames.contains(clusterCol),
      s"cluster column $clusterCol not in the schema")
    require(clusterCol != keyColumn,
      "clusterBy is for NON-key columns (the key layout already " +
        "prunes key predicates; use rangeBounds for a key-range layout)")
    while (true) {
      val prior = currentManifest(spark, root).getOrElse(
        throw new IllegalStateException(s"no table at $root"))
      if (prior.lastDelete.contains(token)) return
      checkSchemaCompatible(prior, schema, "clusterBy", allowAdd = true)
      val attempt = newAttemptId()
      val version = prior.version + 1
      val all = readManifestState(spark, root, schema, Some(prior))
      val cmp = effectiveKey(prior, keyComparator)
      val bucket = leafExpr(prior, cmp(col(keyColumn)))
      val written = writeBuckets(all, bucket, keyColumn, root,
        s"v$version-$attempt", prior.numBuckets * filesPerBucket, cmp,
        seq = version, colMap = prior.colMap, cluster = Some(col(clusterCol)))
      if (tryCommitManifest(spark, root, Manifest(version,
          prior.numBuckets, written, prior.lastBatches, Some(token),
          attempt, keyColumn, prior.keyExpr, prior.lastCompact,
          prior.rangeBounds, prior.schemaJson, prior.udfKey,
          clusterCol = clusterCol, colMap = prior.colMap,
          splits = prior.splits)))
        return
      cleanupAttempt(spark, root, version, attempt)
    }
  }

  /** Multi-column clustering via Z-ORDER (Morton interleave) — the
    * clusterBy for MORE THAN ONE probe dimension. A single-column
    * cluster sort gives file-granular zone pruning on that column and
    * nothing on any other; Z-ordering maps each row to one long whose
    * bits interleave the per-column rank cells, so rows close in the
    * z-curve are close in EVERY clustered dimension at once — each
    * file's zone box is tight on ALL of `clusterCols`, and a range
    * probe on any of them (or a box probe on several —
    * [[ZoneSkip.lookupRanges]]) skips most files. The Delta/Databricks
    * OPTIMIZE ZORDER BY design point, built Spark-first.
    *
    * Ranks come from ONE bounded sample job (never a per-column global
    * sort): `sampleRows` rows drawn across the table, per-column
    * boundaries picked at even quantile positions driver-side (≤
    * 2^bits − 1 values per column, each column in its own NATIVE
    * order), and the rank is the bucketExpr searchsorted shape over
    * those boundary literals — codegen-friendly, NULL ranks 0 (nulls
    * cluster low, zones record a non-null witness so they still
    * prune). Boundary quality only shapes LAYOUT, never results: a
    * skewed sample costs pruning selectivity, not correctness. The
    * rewrite itself is [[clusterBy]]'s: one whole-table
    * `repartitionByRange(files, bucket, z)` keeping the key-hash
    * bucket layout (lookups, co-bucketed joins intact), single-seq
    * buckets, file-granular zone claims; the manifest records
    * `clusterCol = "zorder(a,b,...)"` so the scan drops its within-file
    * key-sort claim the same way (and [[renameColumn]] rewrites the
    * constituent names). Token-replayed through the maintenance
    * stream. `bits` per-column resolution × columns must fit a long
    * (≤ 63 interleaved bits). */
  def zOrderBy(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      keyColumn: String,
      clusterCols: Seq[String],
      token: Long,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity,
      filesPerBucket: Int = 4,
      bits: Int = 8,
      sampleRows: Int = 65536): Unit = {
    require(filesPerBucket >= 1, "filesPerBucket must be >= 1")
    require(clusterCols.size >= 2,
      "zOrderBy needs >= 2 columns (use clusterBy for one)")
    require(clusterCols.distinct.size == clusterCols.size,
      s"duplicate z-order columns in $clusterCols")
    clusterCols.foreach(c => require(schema.fieldNames.contains(c),
      s"z-order column $c not in the schema"))
    require(!clusterCols.contains(keyColumn),
      "zOrderBy is for NON-key columns (the key layout already " +
        "prunes key predicates)")
    require(bits >= 1 && bits * clusterCols.size <= 63,
      s"$bits bits x ${clusterCols.size} columns exceeds a long's " +
        "63 interleavable bits")
    while (true) {
      val prior = currentManifest(spark, root).getOrElse(
        throw new IllegalStateException(s"no table at $root"))
      if (prior.lastDelete.contains(token)) return
      checkSchemaCompatible(prior, schema, "zOrderBy", allowAdd = true)
      val attempt = newAttemptId()
      val version = prior.version + 1
      val all = readManifestState(spark, root, schema, Some(prior))
      val z = zExprOf(all, clusterCols,
        prior.entries.map(_.rows).sum, sampleRows, bits, seed = token)
      val cmp = effectiveKey(prior, keyComparator)
      val bucket = leafExpr(prior, cmp(col(keyColumn)))
      val written = writeBuckets(all, bucket, keyColumn, root,
        s"v$version-$attempt", prior.numBuckets * filesPerBucket, cmp,
        seq = version, colMap = prior.colMap, cluster = Some(z))
      if (tryCommitManifest(spark, root, Manifest(version,
          prior.numBuckets, written, prior.lastBatches, Some(token),
          attempt, keyColumn, prior.keyExpr, prior.lastCompact,
          prior.rangeBounds, prior.schemaJson, prior.udfKey,
          clusterCol = s"zorder(${clusterCols.mkString(",")})",
          colMap = prior.colMap, splits = prior.splits)))
        return
      cleanupAttempt(spark, root, version, attempt)
    }
  }

  /** The z-curve cell expression over `df` ([[zOrderBy]]'s kernel,
    * shared with [[recluster]]'s zorder leg): ONE bounded sample job
    * picks every column's boundaries (`totalRows` sizes the fraction —
    * delta tiers overcount only toward a larger sample — and a hard
    * limit caps the driver either way), rank_j = #(boundaries <=
    * value) in the column's NATIVE order (NULL -> 0), and the result
    * interleaves the per-column rank bits. Boundary quality only
    * shapes LAYOUT, never results. */
  private def zExprOf(
      df: DataFrame, clusterCols: Seq[String], totalRows: Long,
      sampleRows: Int, bits: Int,
      seed: Long): org.apache.spark.sql.Column = {
    val frac = math.min(1.0, sampleRows * 2.0 / math.max(1L, totalRows))
    val sample = df.select(clusterCols.map(col): _*)
      .sample(withReplacement = false, frac, seed)
      .limit(sampleRows).collect()
    val cells = 1 << bits
    val bounds: Seq[Seq[Any]] = clusterCols.indices.map { j =>
      val vs = sample.flatMap(r => Option(r.get(j))).distinct
      val sorted = vs.sortWith((a, b) => cmpNative(a, b) < 0)
      if (sorted.length <= cells - 1) sorted.toSeq
      else (1 until cells).map(i =>
        sorted((i.toLong * sorted.length / cells).toInt))
    }
    val ranks = clusterCols.zip(bounds).map { case (c, bs) =>
      if (bs.isEmpty) lit(0L)
      else coalesce(size(filter(array(bs.map(lit): _*),
        b => col(c) >= b)), lit(0)).cast("long")
    }
    val k = ranks.size
    (0 until bits).flatMap(i => ranks.zipWithIndex.map {
      case (r, j) =>
        // disjoint target bits, so + is bitwise OR
        shiftleft(shiftright(r, i).bitwiseAND(lit(1L)), i * k + j)
    }).reduce(_ + _)
  }

  /** INCREMENTAL layout maintenance — the Delta OPTIMIZE shape for a
    * 100 TB table: [[clusterBy]]/[[zOrderBy]] are one-whole-table
    * rewrites by design (a layout bootstrap), so refreshing a layout
    * at scale must NOT cost a table-sized write. This rewrites ONLY
    * the buckets whose live file set DRIFTED since the last layout
    * commit — the per-entry `sorted` bit (format 12, written only by
    * the cluster writers) makes drift a pure manifest fact: a bucket
    * re-clusters iff it holds >= `minDriftFiles` files some
    * non-cluster writer produced (merge, delta tier, compaction, DML
    * rewrite). Undrifted buckets carry their relPaths verbatim; zone
    * pruning stays file-granular on the rewritten buckets (their
    * entries make fresh per-file claims, and declared zone sidecars
    * refresh through the commit's autoMaintain hook like any commit).
    *
    * The layout DEFINITION comes from the manifest (`clusterCol`,
    * bare column or `zorder(a,b,...)`) — callers declare the layout
    * once at bootstrap and run this from then on. A zorder refresh
    * re-samples its rank boundaries from the DRIFTED buckets' own
    * rows: cross-generation cell grids may differ, which costs
    * nothing — every file's zone box is computed from its actual
    * contents, so pruning stays sound and tight per file.
    *
    * Cost ∝ drifted buckets (the change rate since the last layout
    * pass), never table size. Token-replayed through the maintenance
    * ledger (`tokenStream` names a per-caller batch stream — the
    * [[delete]] convention — default the shared lastDelete slot); a
    * no-drift call commits the token only so replays no-op — except
    * under `commitOnNoDrift = false` (the [[autoMaintain]] trigger's
    * mode: maintenance re-fires on every commit anyway, and a
    * token-only commit from INSIDE the commit path would recurse
    * forever). Returns the re-clustered bucket ids. */
  def recluster(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      token: Long,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity,
      filesPerBucket: Int = 4,
      minDriftFiles: Int = 1,
      bits: Int = 8,
      sampleRows: Int = 65536,
      tokenStream: Option[String] = None,
      commitOnNoDrift: Boolean = true): Seq[Int] = {
    require(filesPerBucket >= 1, "filesPerBucket must be >= 1")
    require(minDriftFiles >= 1, "minDriftFiles must be >= 1")
    while (true) {
      val prior = currentManifest(spark, root).getOrElse(
        throw new IllegalStateException(s"no table at $root"))
      val replayed = tokenStream match {
        case Some(s) => prior.lastBatches.get(s).contains(token)
        case None => prior.lastDelete.contains(token)
      }
      if (replayed) return Nil
      checkSchemaCompatible(prior, schema, "recluster", allowAdd = true)
      require(prior.clusterCol.nonEmpty,
        s"table at $root records no cluster layout — bootstrap with " +
          "clusterBy/zOrderBy, then recluster incrementally")
      val clusterCols: Seq[String] =
        if (prior.clusterCol.startsWith("zorder(") &&
            prior.clusterCol.endsWith(")"))
          prior.clusterCol
            .substring(7, prior.clusterCol.length - 1).split(',').toSeq
        else Seq(prior.clusterCol)
      clusterCols.foreach(c => require(schema.fieldNames.contains(c),
        s"recorded cluster column $c not in the caller's schema"))
      val keyColumn = prior.keyColumn
      val attempt = newAttemptId()
      val version = prior.version + 1
      val batches = tokenStream.fold(prior.lastBatches)(s =>
        prior.lastBatches + (s -> token))
      val deleteToken =
        if (tokenStream.isEmpty) Some(token) else prior.lastDelete
      val drifted: Set[Int] = prior.entries.groupBy(_.bucket)
        .collect { case (b, es)
          if es.count(!_.sorted) >= minDriftFiles => b }.toSet
      if (drifted.isEmpty) {
        if (!commitOnNoDrift) return Nil
        // no drift: commit the token so replays no-op (the deleteWhere
        // miss-path discipline)
        if (tryCommitManifest(spark, root, Manifest(version,
            prior.numBuckets, prior.entries, batches,
            deleteToken, attempt, keyColumn, prior.keyExpr,
            prior.lastCompact, prior.rangeBounds, prior.schemaJson,
            prior.udfKey, clusterCol = prior.clusterCol,
            colMap = prior.colMap, splits = prior.splits)))
          return Nil
      } else {
        val (touchedEntries, untouched) =
          prior.entries.partition(e => drifted(e.bucket))
        val cmp = effectiveKey(prior, keyComparator)
        val frag = reconciledRead(spark, root, schema, prior,
          touchedEntries, keyColumn, cmp)
        val cluster =
          if (clusterCols.size == 1) col(clusterCols.head)
          else zExprOf(frag, clusterCols,
            touchedEntries.map(_.rows).sum, sampleRows, bits,
            seed = token)
        val bucket = leafExpr(prior, cmp(col(keyColumn)))
        val written = writeBuckets(frag, bucket, keyColumn, root,
          s"v$version-$attempt", drifted.size * filesPerBucket, cmp,
          seq = version, colMap = prior.colMap, cluster = Some(cluster))
        if (tryCommitManifest(spark, root, Manifest(version,
            prior.numBuckets, untouched ++ written, batches,
            deleteToken, attempt, keyColumn, prior.keyExpr,
            prior.lastCompact, prior.rangeBounds, prior.schemaJson,
            prior.udfKey, clusterCol = prior.clusterCol,
            colMap = prior.colMap, splits = prior.splits)))
          return drifted.toSeq.sorted
        cleanupAttempt(spark, root, version, attempt)
      }
    }
    Nil // unreachable
  }

  /** Rename a column through a recorded cluster claim: a plain
    * clusterBy records the bare column name, [[zOrderBy]] records
    * `zorder(a,b,...)` — both must follow a [[renameColumn]] or the
    * claim (and the SHOW TBLPROPERTIES surface) goes stale. */
  private def renameClusterCol(
      recorded: String, from: String, to: String): String =
    if (recorded == from) to
    else if (recorded.startsWith("zorder(") && recorded.endsWith(")"))
      "zorder(" + recorded.substring(7, recorded.length - 1)
        .split(',').map(c => if (c == from) to else c).mkString(",") + ")"
    else recorded

  /** Driver-side native-order comparison for z-order boundary picking —
    * the SAMPLE values' own type (numeric/string/date/timestamp), never
    * a rendered string (the "10" < "9" trap). */
  private def cmpNative(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Comparable[_], y) =>
      x.asInstanceOf[java.lang.Comparable[Any]].compareTo(y)
    case _ => 0
  }

  /** Point-in-time RESTORE: rewinds the table's live state to what
    * `toVersion` committed, as a NEW commit going FORWARD — the lineage
    * is never truncated (cf. Delta Lake's RESTORE). Metadata-only: the
    * new manifest re-references `toVersion`'s files verbatim, so no
    * data is read, moved, or rewritten and the cost is one manifest
    * write regardless of table size — restoring a 100 TB table costs
    * the same as restoring 100 rows. Versions above the restore point
    * stay readable through [[readAt]] until [[vacuum]] retires them,
    * and the CDC feed derives the restore commit's NET data difference
    * from the file-set diff like any other commit ([[changes]]), so
    * maintained views/indexes follow the rewind through their normal
    * change-driven refresh — no special-casing downstream.
    *
    * A table is restorable exactly as far back as vacuum's `keepLast`
    * window keeps manifests (manifest retention IS the restore window).
    * The restored manifest carries the TARGET's layout and recorded
    * schema — a rewind undoes add-only evolution too, since the
    * restored files simply don't have the newer columns — but the
    * CURRENT head's replay state (`lastBatches`, `lastCompact`): a
    * streaming batch that committed before the restore stays "seen",
    * so a post-restore retry of it no-ops instead of double-applying
    * (the same choice Delta makes with transaction versions; rewinding
    * tokens would turn every at-least-once retry into a double-write).
    * `token` rides the [[delete]]/[[rebucket]] maintenance token space
    * (`lastDelete`), or a caller-named `lastBatches` stream via
    * `tokenStream` when the maintenance slot must stay undisturbed. */
  def restore(
      spark: SparkSession,
      root: String,
      toVersion: Long,
      token: Long,
      tokenStream: Option[String] = None): Unit = {
    while (true) {
      val prior = currentManifest(spark, root).getOrElse(
        throw new IllegalStateException(s"no table at $root"))
      val replayed = tokenStream match {
        case Some(s) => prior.lastBatches.get(s).contains(token)
        case None => prior.lastDelete.contains(token)
      }
      if (replayed) return
      require(toVersion <= prior.version,
        s"cannot restore $root to v$toVersion: current is v${prior.version}")
      val target = readManifest(spark, root, toVersion)
      // Re-committing pre-8 entries under the format-8 header writes
      // restore always produces would lie to readers (dir-shaped
      // relPaths, no recorded bytes/named flags) — refuse rather than
      // mis-describe; such tables predate restore anyway.
      require(target.format >= 8 || target.entries.isEmpty,
        s"restore target m$toVersion is format ${target.format} (< 8)")
      val batches = tokenStream.fold(prior.lastBatches)(s =>
        prior.lastBatches + (s -> token))
      val deleteToken =
        if (tokenStream.isEmpty) Some(token) else prior.lastDelete
      if (tryCommitManifest(spark, root, Manifest(prior.version + 1,
          target.numBuckets, target.entries, batches, deleteToken,
          newAttemptId(), target.keyColumn, target.keyExpr,
          prior.lastCompact, target.rangeBounds, target.schemaJson,
          target.udfKey, clusterCol = target.clusterCol,
          colMap = target.colMap, splits = target.splits)))
        return
      // nothing to clean on an OCC loss: restore writes no attempt
      // artifacts, only the temp manifest tryCommitManifest removes
    }
  }

  /** Per-bucket COMPACTION: folds every bucket carrying
    * `minFilesPerBucket` or more live files (a base plus accumulated
    * delta files from `merge(delta = true)`) back into ONE file,
    * restoring reconciliation-free scans for those buckets. Buckets
    * below the threshold carry into the new manifest VERBATIM — their
    * files are not rewritten, not even read — so the cost tracks the
    * delta-carrying fraction of the table, never the table (rebucket is
    * the only whole-table rewrite here). The fold itself is the same
    * last-version-wins reconcile readers apply, so a compacted read is
    * row-identical to the uncompacted one, and the superseded base/delta
    * files stay on disk for time travel until `vacuum`.
    *
    * Commits through the same atomic no-overwrite manifest swap
    * (conflicts retry); `token` is compaction's OWN replay token
    * (`lastCompact` — deliberately not shared with
    * [[delete]]/[[rebucket]]'s `lastDelete` space, so an automated
    * compaction token can never equal a user's delete token and make
    * the delete silently no-op as a "replay"). Returns the rewritten
    * entries (empty when no bucket met the threshold — idempotent: a
    * second call right after finds nothing to do). */
  def compact(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      keyColumn: String,
      token: Long,
      minFilesPerBucket: Int = 2,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity,
      tokenStream: Option[String] = None): Seq[FileEntry] = {
    require(minFilesPerBucket >= 2, "minFilesPerBucket must be >= 2")
    while (true) {
      val prior = currentManifest(spark, root).getOrElse(return Nil)
      // An AUTOMATED caller (the autoMaintain hook) names its own
      // stream and replays through `lastBatches(stream)` — the user's
      // `lastCompact` token space stays untouched, so a hook token
      // (the triggering commit's version) can never collide with a
      // user compact token and silently no-op it as a "replay".
      val replayed = tokenStream match {
        case Some(s) => prior.lastBatches.get(s).contains(token)
        case None => prior.lastCompact.contains(token)
      }
      if (replayed) return Nil
      checkSchemaCompatible(prior, schema, "compact", allowAdd = true)
      val byBucket = prior.entries.groupBy(_.bucket)
      val (tiered, thin) =
        byBucket.values.toSeq.partition(_.size >= minFilesPerBucket)
      if (tiered.isEmpty) return Nil
      val attempt = newAttemptId()
      val version = prior.version + 1
      val n = prior.numBuckets
      // Bucket assignment must use the same comparator the layout was
      // written with ([[effectiveKey]]): an identity-default compact on
      // a keyExpr table would migrate rows to raw-key buckets, breaking
      // every later pruned lookup/delete.
      val cmp = effectiveKey(prior, keyComparator)
      val fragment = reconciledRead(spark, root, schema, prior,
        tiered.flatten, keyColumn, cmp)
      val bucket = leafExpr(prior, cmp(col(keyColumn)))
      val written = writeBuckets(fragment, bucket, keyColumn, root,
        s"v$version-$attempt", tiered.size, cmp, seq = version,
        colMap = prior.colMap)
      val batches = tokenStream.fold(prior.lastBatches)(s =>
        prior.lastBatches + (s -> token))
      val compactToken =
        if (tokenStream.isEmpty) Some(token) else prior.lastCompact
      if (tryCommitManifest(spark, root, Manifest(version, n,
          thin.flatten ++ written, batches, prior.lastDelete,
          attempt, keyColumn, prior.keyExpr, compactToken,
          prior.rangeBounds, prior.schemaJson, prior.udfKey,
          clusterCol = prior.clusterCol, colMap = prior.colMap,
          splits = prior.splits)))
        return written
      cleanupAttempt(spark, root, version, attempt)
    }
    Nil // unreachable
  }

  /** CHANGE FEED: row-level changes between two committed versions,
    * computed from the manifests alone — no change log is stored. For
    * each commit in `(fromVersion, toVersion]` the manifest diff names
    * the buckets that commit rewrote (entries whose relPath changed,
    * appeared, or disappeared); only THOSE buckets' old and new files
    * are read and key-diffed, so the cost tracks the data each commit
    * touched, never the table (the same proportionality as the MERGE
    * that produced it). Both snapshots must still be retained (vacuum
    * drops superseded data dirs — run the feed before vacuuming).
    *
    * Output: the table schema plus `_change_type` ('insert' | 'delete' |
    * 'update_preimage' | 'update_postimage') and `_version` (the commit
    * that made the change). Update rows appear twice (pre + post image),
    * rows are matched on the NORMALIZED key (unique in a maintained
    * table — the upsert guarantees it), and a rewritten-but-identical
    * row (same key, same values) emits nothing, so a pure `rebucket`
    * diffs to zero changes. NULL-keyed rows (create-bootstrap only; a
    * merge never writes them) have no key to match on and surface as
    * delete+insert when their bucket happens to be rewritten.
    */
  /** Schema-less change feed over a self-describing table: schema and
    * key column come from the `toVersion` manifest — under add-only
    * evolution that is the WIDEST schema in the window, and earlier
    * snapshots' files null-fill the columns they predate. */
  def changes(
      spark: SparkSession,
      root: String,
      fromVersion: Long,
      toVersion: Long): DataFrame = {
    val m = readManifest(spark, root, toVersion)
    val schema = schemaOf(m).getOrElse(throw new IllegalArgumentException(
      s"manifest m$toVersion at $root records no schema (pre-format-7) — " +
        "pass the schema explicitly"))
    changes(spark, root, schema, m.keyColumn, fromVersion, toVersion)
  }

  def changes(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      keyColumn: String,
      fromVersion: Long,
      toVersion: Long,
      keyComparator: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_version",
          org.apache.spark.sql.types.LongType))))
    val cols = schema.fieldNames.toSeq
    // COLUMN MAPPING: the caller's schema speaks the TO-version's
    // logical names; physical file names are version-stable, so every
    // per-version fragment reads under the TO-version's colMap (an
    // older manifest's own map may predate a rename), and the key
    // column resolves through its physical name into the same space.
    val toM = readManifest(spark, root, toVersion)
    def atTo(mf: Manifest, kc0: String): String = {
      val p = physicalOf(mf, kc0)
      toM.colMap.collectFirst { case (l, pp) if pp == p => l }.getOrElse(p)
    }
    val diffs = ((fromVersion + 1) to toVersion).map { v =>
      // fromVersion = -1 reads the feed from the table's creation:
      // version 0 diffs against the empty table.
      val prev0 =
        if (v == 0L) Manifest(-1L, 0, Nil)
        else readManifest(spark, root, v - 1)
      val cur0 = readManifest(spark, root, v)
      val prev = prev0.copy(colMap = toM.colMap)
      val cur = cur0.copy(colMap = toM.colMap)
      // A bucket changed iff its live FILE SET changed (relPaths move on
      // every rewrite — data dirs are immutable and attempt-unique; a
      // delta merge changes the set by adding a file).
      val prevBy = prev.entries.groupBy(_.bucket)
      val curBy = cur.entries.groupBy(_.bucket)
      val changed = (prevBy.keySet ++ curBy.keySet).toSeq.sorted
        .filter(b => prevBy.get(b).map(_.toSet) != curBy.get(b).map(_.toSet))
      // Each side reconciles its delta files first, so the diff compares
      // LIVE rows per snapshot, not raw file contents. The normalizer is
      // the manifest-recorded one when present (callers like the
      // graft_changes SQL function can only pass identity).
      val rk: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (toM.keyExpr.nonEmpty) recordedKey(toM)
        else if (cur0.keyExpr.nonEmpty) recordedKey(cur0)
        else keyComparator
      def frag(mf: Manifest, entries: Seq[FileEntry], kc: String)
          : DataFrame =
        reconciledRead(spark, root, schema, mf, entries, kc, rk)
      // Presence markers ride each side through the join — an all-null
      // data row is still "present", so presence can't be derived from
      // the data columns' post-join nullability.
      val before = frag(prev,
          changed.flatMap(b => prevBy.getOrElse(b, Nil)),
          atTo(prev0,
            if (prev0.keyColumn.nonEmpty) prev0.keyColumn else keyColumn))
        .withColumn("__graft_pb", lit(true))
      val after = frag(cur,
          changed.flatMap(b => curBy.getOrElse(b, Nil)),
          atTo(cur0,
            if (cur0.keyColumn.nonEmpty) cur0.keyColumn else keyColumn))
        .withColumn("__graft_pa", lit(true))
      // One full-outer join on the normalized key over the touched
      // fragments classifies every row; a rebucket that moved rows
      // without changing them diffs to nothing. Null-keyed rows must NOT
      // match (a null-safe join would cross-join them all). The
      // normalized key is precomputed per side because a recorded
      // normalizer resolves by NAME — applied inside the join condition
      // it would be ambiguous between the two sides.
      val b = before.withColumn("__graft_nk", rk(col(keyColumn))).alias("b")
      val a = after.withColumn("__graft_nk", rk(col(keyColumn))).alias("a")
      val joined = b.join(a, b("__graft_nk") === a("__graft_nk"), "full_outer")
      val changedRow = cols.map(c => !(b(c) <=> a(c)))
        .reduce(_ || _)
      val marked = joined.select(
        struct(cols.map(c => b(c)): _*).as("_b"),
        struct(cols.map(c => a(c)): _*).as("_a"),
        coalesce(b("__graft_pb"), lit(false)).as("_inb"),
        coalesce(a("__graft_pa"), lit(false)).as("_ina"),
        changedRow.as("_chg"))
      // ONE pass classifies every joined row: the four change kinds ride
      // an exploded 4-slot array (unmatched kinds are null slots, dropped
      // by the filter) — four filter-branches off the same join would
      // re-plan it and re-read the touched files once per kind.
      val kind = (cond: org.apache.spark.sql.Column, t: String, r: String) =>
        when(cond, struct(lit(t).as("t"), col(r).as("r")))
      val isUpd = col("_ina") && col("_inb") && col("_chg")
      marked.select(explode(array(
          kind(col("_ina") && !col("_inb"), "insert", "_a"),
          kind(col("_inb") && !col("_ina"), "delete", "_b"),
          kind(isUpd, "update_preimage", "_b"),
          kind(isUpd, "update_postimage", "_a"))).as("_v"))
        .filter(col("_v").isNotNull)
        .select(cols.map(c => col(s"_v.r.$c")) :+
          col("_v.t").as("_change_type") :+ lit(v).as("_version"): _*)
    }
    diffs.foldLeft(empty)(_ union _)
  }

  private val TagSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("tag_name",
      org.apache.spark.sql.types.StringType),
    // null = delete marker: the newest row per name wins, so a
    // deleteTag row simply un-declares the name (the indexreg/maintain
    // replace discipline applied per tag name).
    org.apache.spark.sql.types.StructField("tag_version",
      org.apache.spark.sql.types.LongType)))

  /** Tag names must be visibly NOT versions: `VERSION AS OF x` takes
    * numbers (versions) and strings (tags), and an all-digit tag would
    * shadow a version forever after. Path-safe charset because readers
    * never need to escape them anywhere. */
  private def validTagName(name: String): Boolean =
    name.nonEmpty && name.length <= 128 &&
      name.forall(c => c.isLetterOrDigit || c == '.' || c == '_' ||
        c == '-') && !name.forall(_.isDigit)

  /** NAMED SNAPSHOT (tag): pins `version` (default: current) under a
    * stable name — `readAt(root, name)` / SQL `VERSION AS OF 'name'`
    * resolve it, and [[vacuum]] RETAINS tagged versions (manifest +
    * the data files it references) beyond `keepLast` until the tag is
    * deleted. This is the reproducibility primitive at 100 TB: tag the
    * snapshot a training corpus was cut from and the exact bytes stay
    * addressable while later commits, compactions and GC churn the
    * table. Tags are an additive `tags` sidecar (newest row per name
    * wins; metadata-only — no table commit, no version bump);
    * re-tagging a name MOVES it. History expiry ([[expireHistory]]) is
    * deliberately NOT tag-gated: tags pin SNAPSHOTS (time travel),
    * while history rows are audit records under compliance windows —
    * a tag must never shield an audit row from "older than 90 days
    * must be gone". Returns the pinned version. */
  def tag(spark: SparkSession, root: String, name: String,
      version: Long = -1L): Long = {
    require(validTagName(name),
      s"invalid tag name '$name' — need [A-Za-z0-9._-]{1,128} with at " +
        "least one non-digit (an all-digit tag would shadow a version)")
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no manifest table at $root"))
    val v = if (version < 0) m.version else version
    require(v <= m.version,
      s"cannot tag v$v: table at $root is at v${m.version}")
    val mp = new Path(s"$root/manifest/m$v")
    require(fsOf(spark, mp).exists(mp),
      s"no committed manifest m$v under $root (vacuumed?) — a tag " +
        "must pin a still-readable snapshot")
    val row = org.apache.spark.sql.Row(name, java.lang.Long.valueOf(v))
    val df = spark.createDataFrame(
      java.util.Collections.singletonList(row), TagSchema)
    writeAdditiveSidecar(spark, root, m, df, "tags")
    v
  }

  /** Un-declares a tag: the version it pinned becomes ordinary again
    * (the next [[vacuum]] may retire it). No-op on unknown names. */
  def deleteTag(spark: SparkSession, root: String, name: String): Unit = {
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no manifest table at $root"))
    val row = org.apache.spark.sql.Row(name, null)
    val df = spark.createDataFrame(
      java.util.Collections.singletonList(row), TagSchema)
    writeAdditiveSidecar(spark, root, m, df, "tags")
  }

  /** Live tags, name → pinned version (newest declaration per name
    * wins; deleted names absent). Cheap: one fs.exists on untagged
    * tables, small single-row parquet reads otherwise. */
  def tagsOf(spark: SparkSession, root: String): Map[String, Long] = {
    val dir = new Path(s"$root/tags")
    if (!fsOf(spark, dir).exists(dir)) return Map.empty
    val dirs = committedAdditiveDirs(spark, root, "tags")
    var live = Map.empty[String, Long]
    dirs.foreach { d =>
      spark.read.schema(TagSchema).parquet(d).collect().foreach { r =>
        val n = r.getString(0)
        if (r.isNullAt(1)) live -= n else live += (n -> r.getLong(1))
      }
    }
    live
  }

  /** Time travel by TAG: the named snapshot under its own recorded
    * schema. Fails loudly on unknown names (listing the live ones —
    * the likely cause is a deleted or misspelled tag). */
  def readAt(spark: SparkSession, root: String, tag: String): DataFrame =
    readAt(spark, root, resolveTag(spark, root, tag))

  private[graft] def resolveTag(spark: SparkSession, root: String,
      tag: String): Long = {
    val tags = tagsOf(spark, root)
    tags.getOrElse(tag, throw new IllegalArgumentException(
      s"no tag '$tag' at $root — live tags: " +
        (if (tags.isEmpty) "(none)"
         else tags.keys.toSeq.sorted.mkString(", "))))
  }

  private val ConstraintSchema = org.apache.spark.sql.types.StructType(
    Seq(
      org.apache.spark.sql.types.StructField("constraint_name",
        org.apache.spark.sql.types.StringType),
      // null = drop marker (the tags discipline: newest row per name
      // wins, a null-SQL row un-declares the name)
      org.apache.spark.sql.types.StructField("check_sql",
        org.apache.spark.sql.types.StringType)))

  /** Declares a CHECK constraint: `checkSql` (a boolean SQL expression
    * over the table's columns, standard CHECK semantics — NULL passes,
    * only FALSE violates) is validated against the CURRENT state
    * (violations refuse the declaration, loudly, with a count and
    * sample rows) and from then on guards EVERY row any writer
    * produces — merge, SQL INSERT/UPDATE/MERGE, updateWhere, the
    * streaming sink — at the one write funnel they all share
    * ([[writeBuckets]]): the check evaluates inline per row (codegen'd
    * predicate, no extra pass, no extra job) and the first violating
    * row fails the write BEFORE anything commits, naming the
    * constraint and printing the row. At 100 TB a quality gate that
    * costs a second scan is a tax nobody pays; one that rides the
    * write itself is free enough to leave on. Constraints live in an
    * additive `constraints` sidecar, survive vacuum, and carry onto
    * shallow clones ([[cloneAt]] — a branch inherits the contract). */
  def addConstraint(spark: SparkSession, root: String, name: String,
      checkSql: String): Unit = {
    require(name.nonEmpty && name.length <= 128 &&
      name.forall(c => c.isLetterOrDigit || c == '.' || c == '_' ||
        c == '-'),
      s"invalid constraint name '$name' — need [A-Za-z0-9._-]{1,128}")
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no manifest table at $root"))
    val schema = schemaOf(m).getOrElse(
      throw new IllegalStateException(s"table at $root records no " +
        "schema (pre-format-7) — constraints need the recorded schema"))
    // resolve + type-check + validate existing rows in one pass: the
    // filter fails analysis loudly on typos/non-boolean expressions
    val bad = read(spark, root, schema)
      .filter(!coalesce(expr(checkSql), lit(true)))
    val sample = bad.limit(3).collect()
    if (sample.nonEmpty) {
      val n = bad.count()
      throw new IllegalStateException(
        s"cannot add CHECK constraint '$name' ($checkSql) at $root: " +
          s"$n existing row(s) violate it, e.g. " +
          sample.map(_.toString).mkString("; "))
    }
    val row = org.apache.spark.sql.Row(name, checkSql)
    val df = spark.createDataFrame(
      java.util.Collections.singletonList(row), ConstraintSchema)
    writeAdditiveSidecar(spark, root, m, df, "constraints")
  }

  /** Un-declares a CHECK constraint. No-op on unknown names. */
  def dropConstraint(spark: SparkSession, root: String,
      name: String): Unit = {
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no manifest table at $root"))
    val row = org.apache.spark.sql.Row(name, null)
    val df = spark.createDataFrame(
      java.util.Collections.singletonList(row), ConstraintSchema)
    writeAdditiveSidecar(spark, root, m, df, "constraints")
  }

  /** Live CHECK constraints, name → boolean SQL. One fs.exists on
    * tables that never declared any. */
  def constraintsOf(spark: SparkSession, root: String)
      : Map[String, String] = {
    val dir = new Path(s"$root/constraints")
    if (!fsOf(spark, dir).exists(dir)) return Map.empty
    val dirs = committedAdditiveDirs(spark, root, "constraints")
    var live = Map.empty[String, String]
    dirs.foreach { d =>
      spark.read.schema(ConstraintSchema).parquet(d).collect()
        .foreach { r =>
          val n = r.getString(0)
          if (r.isNullAt(1)) live -= n else live += (n -> r.getString(1))
        }
    }
    live
  }

  /** SHALLOW CLONE: bootstraps a NEW table at `dstRoot` whose v0
    * manifest references the source snapshot's data files IN PLACE
    * (`ext:`-prefixed absolute URIs — see [[dataPath]]) — zero data
    * bytes copied, cost = one manifest write regardless of table size.
    * The clone is a full first-class table: layout (buckets, range
    * bounds, split tree), key comparator, schema, column mapping,
    * per-file stats and even un-folded delta/tombstone chains carry
    * verbatim, so reads reconcile identically; any WRITE rewrites its
    * touched buckets into clone-local files (copy-on-write divergence),
    * and the clone's own [[vacuum]] never touches source bytes. Replay
    * ledgers (stream batches, delete/compact tokens) carry too, so a
    * redirected writer can never double-apply a batch the source
    * already holds.
    *
    * The bind is BY SNAPSHOT, not by name: later source commits are
    * invisible to the clone. What CAN hurt it is the source's GC —
    * so `pin = true` (default) TAGS the source version
    * (`clone-<sanitized dst>`) and the source's vacuum retains the
    * referenced files until that tag is deleted; pass `pin = false`
    * for read-only sources you GC by other means. Zones/bloom sidecars
    * do NOT carry (they key files by root-relative path): the clone
    * starts sidecar-less — entry-level stats still prune, and builders
    * skip ext files (declare maintenance after the clone diverges).
    *
    * Experimentation shape at 100 TB: branch the corpus, mutate the
    * branch, throw it away — never copy it. Returns the cloned source
    * version. */
  def cloneAt(
      spark: SparkSession,
      srcRoot: String,
      dstRoot: String,
      version: Long = -1L,
      pin: Boolean = true): Long = {
    val srcM = currentManifest(spark, srcRoot).getOrElse(
      throw new IllegalStateException(s"no manifest table at $srcRoot"))
    val v = if (version < 0) srcM.version else version
    val m =
      if (v == srcM.version) srcM
      else {
        val mp = new Path(s"$srcRoot/manifest/m$v")
        require(fsOf(spark, mp).exists(mp),
          s"no committed manifest m$v under $srcRoot (vacuumed?)")
        readManifest(spark, srcRoot, v)
      }
    require(currentVersion(spark, dstRoot).isEmpty,
      s"table exists at $dstRoot")
    val qSrc = {
      val p = new Path(srcRoot)
      fsOf(spark, p).makeQualified(p).toString
    }
    // clone-of-a-clone: already-ext entries carry verbatim (they point
    // at the ORIGINAL bytes — a chain of clones never daisy-chains
    // resolution through intermediate roots)
    val extEntries = m.entries.map(e =>
      if (isExt(e)) e else e.copy(relPath = s"ext:$qSrc/${e.relPath}"))
    // Pin BEFORE the destination commit (the tag must hold v's files
    // against a concurrent source vacuum for the clone's whole
    // lifetime, including this very call) — but never leave the pin
    // ORPHANED: a lost dst-create race or a commit failure rolls the
    // tag back, guarded so a concurrent clone of a DIFFERENT version
    // to the same destination (which legitimately moved the shared
    // tag name) keeps its own pin.
    if (pin) tag(spark, srcRoot, cloneTagName(dstRoot), v)
    def unpin(): Unit =
      if (pin) scala.util.Try {
        if (tagsOf(spark, srcRoot).get(cloneTagName(dstRoot))
            .contains(v))
          deleteTag(spark, srcRoot, cloneTagName(dstRoot))
      }
    val attempt = newAttemptId()
    val cloneM = Manifest(0L, m.numBuckets,
      extEntries, m.lastBatches, m.lastDelete, attempt,
      m.keyColumn, m.keyExpr, m.lastCompact, m.rangeBounds,
      m.schemaJson, m.udfKey, clusterCol = m.clusterCol,
      colMap = m.colMap, splits = m.splits)
    val committed =
      try tryCommitManifest(spark, dstRoot, cloneM)
      catch { case e: Throwable => unpin(); throw e }
    if (!committed) {
      // Same-version race: when ANOTHER clone of this very (source,
      // version) won the dst create, the tag we wrote IS the winner's
      // pin (same name, same version — tag() re-tags idempotently);
      // deleting it would let a later source vacuum reclaim the
      // winner's ext files. The winner records its origin sidecar
      // right after its commit — poll it briefly and KEEP the pin
      // when it matches (a leaked tag retains a snapshot, recoverable
      // by deleteTag; a deleted needed pin loses the clone's data).
      // Poll outcome decides three ways: the winner's origin MATCHES
      // (it owns the pin — keep), it reads a DIFFERENT origin (the pin
      // is provably ours alone — unpin), or it stays unreadable past
      // the window (a slow winner's sidecar still in flight). On
      // timeout KEEP the pin: a leaked tag retains a snapshot and is
      // recoverable via deleteTag, while unpinning a pin the winner
      // needs lets a later source vacuum reclaim its ext files — the
      // unrecoverable direction.
      val safeToUnpin = pin && {
        var verdict: Option[Boolean] = None // Some(true)=unpin is safe
        var i = 0
        while (verdict.isEmpty && i < 5) {
          scala.util.Try(originOf(spark, dstRoot)).toOption.flatten match {
            case Some(origin) => verdict = Some(origin != ((qSrc, v)))
            case None => Thread.sleep(50L * (i + 1)); i += 1
          }
        }
        verdict.getOrElse(false) // timeout: keep (leak beats data loss)
      }
      if (!pin || safeToUnpin) unpin()
      throw new java.util.ConcurrentModificationException(
        s"table concurrently created at $dstRoot")
    }
    // the branch inherits the data contract: live CHECK constraints
    // carry onto the clone (drop them there explicitly if the branch
    // is meant to relax them)
    val cs = constraintsOf(spark, srcRoot)
    if (cs.nonEmpty) {
      val rows = cs.toSeq.sortBy(_._1).map { case (n, q) =>
        org.apache.spark.sql.Row(n, q) }
      writeAdditiveSidecar(spark, dstRoot, cloneM,
        spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          ConstraintSchema), "constraints")
    }
    // PER-FILE sidecars carry too, keyed to the clone's ext relPaths:
    // a branch of a 100 TB table keeps its zone/bloom pruning and its
    // ANALYZE stats from the first read — the files are the same
    // bytes, so their per-file facts are the same facts. Cost ∝
    // sidecar size, never data. Rows for files the cloned snapshot
    // does not reference translate too and are simply never matched
    // (readers key strictly by live relPath). Deliberately NOT
    // carried: bucket-level bloom SUMMARIES (their `covers` sets are
    // layout claims the clone re-derives), the maintenance policy
    // (operational tuning, not data), and index/view REGISTRATIONS —
    // an inherited registration would refresh clone commits into the
    // SOURCE's derived tables and corrupt them.
    val extOf: String => String =
      rp => if (rp.startsWith("ext:")) rp else s"ext:$qSrc/$rp"
    val extUdf = org.apache.spark.sql.functions.udf(extOf)
    Seq("zones", "bloom", "colstats").foreach { kind =>
      val dirs = committedAdditiveDirs(spark, srcRoot, kind)
      if (dirs.nonEmpty) {
        val rows = spark.read.parquet(dirs: _*)
          .withColumn("relPath", extUdf(col("relPath")))
        writeAdditiveSidecar(spark, dstRoot, cloneM, rows, kind,
          singleFile = kind != "bloom")
      }
    }
    // the branch remembers WHERE it came from: (immediate source root,
    // bound version) — what [[mergeBranch]] diffs conflicts against
    writeAdditiveSidecar(spark, dstRoot, cloneM,
      spark.createDataFrame(java.util.Collections.singletonList(
        org.apache.spark.sql.Row(qSrc, java.lang.Long.valueOf(v))),
        OriginSchema), "origin")
    v
  }

  private val OriginSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("src_root",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("src_version",
      org.apache.spark.sql.types.LongType)))

  /** A shallow clone's bind point: (qualified immediate source root,
    * source version cloned). None on tables not created by [[cloneAt]]. */
  def originOf(spark: SparkSession, root: String)
      : Option[(String, Long)] = {
    val dir = new Path(s"$root/origin")
    if (!fsOf(spark, dir).exists(dir)) return None
    val dirs = committedAdditiveDirs(spark, root, "origin")
    if (dirs.isEmpty) return None
    spark.read.schema(OriginSchema).parquet(dirs: _*).collect()
      .headOption.map(r => (r.getString(0), r.getLong(1)))
  }

  /** BRANCH MERGE-BACK: applies a diverged shallow clone's edits to
    * its source — the other half of [[cloneAt]]'s experiment loop
    * (branch the corpus, mutate the branch, measure, merge what
    * worked). The branch delta is its OWN change feed since the bind
    * (commits 1..current on the branch root — v0 IS the bind), netted
    * to each key's LAST action; it lands on the source as one
    * idempotent upsert commit plus one bounded delete commit on
    * PER-BRANCH ledger streams (`graft-merge-branch:<branch>` — two
    * branches with coinciding tokens never read each other's replays) (retry-safe: a crash between
    * the two replays the first as a no-op and completes the second —
    * the derived-table multi-commit discipline).
    *
    * CONFLICTS are keys changed on BOTH sides since the bind (the
    * source's own change feed over (bindVersion, current]).
    * `onConflict`: "fail" (default — refuse loudly with a count and
    * sample keys; nothing commits), "branch" (the branch's value wins
    * on conflicted keys), "source" (conflicted keys keep the source's
    * value; only the branch's clean edits land). Cost ∝ both sides'
    * CHANGE since the bind — never table size: both feeds read only
    * commit-touched buckets, and the source keeps its bind snapshot
    * readable because [[cloneAt]]'s pin tag holds it. Retention
    * contract: BOTH change feeds walk their side's manifests over the
    * window — keep the branch's history and the source's
    * (bind, current] manifests (vacuum keepLast / retainMs) until the
    * merge-back; a vacuumed window fails LOUDLY, never silently
    * under-merges. Returns (upserts, deletes, conflicts). */
  /** `evolveSchema`: a branch that ADDED nullable columns since the
    * bind merges back only with this set — the source evolves in the
    * upsert leg (old source rows NULL-fill, the add-only discipline);
    * the default refuses loudly naming the columns, so a schema
    * divergence is always a DECISION, never whichever way the write
    * funnel happens to fall. Columns the SOURCE added (absent on the
    * branch) always refuse: the branch's rows cannot supply their
    * values, and an upsert would erase them for every merged key —
    * rebase (re-clone and replay) instead. Re-typed columns refuse in
    * both directions. */
  def mergeBranch(
      spark: SparkSession,
      srcRoot: String,
      branchRoot: String,
      token: Long,
      onConflict: String = "fail",
      maxDriverKeys: Int = 100000,
      evolveSchema: Boolean = false): (Long, Long, Long) = {
    require(Set("fail", "branch", "source")(onConflict),
      s"onConflict must be fail|branch|source, got '$onConflict'")
    val (origin, bindV) = originOf(spark, branchRoot).getOrElse(
      throw new IllegalStateException(
        s"$branchRoot records no clone origin — mergeBranch merges " +
          "cloneAt-created branches"))
    val qSrc = {
      val p = new Path(srcRoot)
      fsOf(spark, p).makeQualified(p).toString
    }
    require(origin == qSrc,
      s"branch at $branchRoot was cloned from $origin, not $qSrc")
    val branchCur = currentVersion(spark, branchRoot).getOrElse(
      throw new IllegalStateException(s"no table at $branchRoot"))
    if (branchCur == 0L) return (0L, 0L, 0L) // never diverged
    // the replay ledger is PER BRANCH (the stream id carries the
    // branch's qualified root): two different branches merging into
    // one source with coinciding token values must never read each
    // other's tokens as replays — the ledger map stays bounded by the
    // number of distinct branches, like any other writer population
    val qBranch = {
      val p = new Path(branchRoot)
      fsOf(spark, p).makeQualified(p).toString
    }
    val upStream = s"graft-merge-branch:$qBranch"
    val delStream = s"graft-merge-branch-del:$qBranch"
    val bm = currentManifest(spark, branchRoot).get
    val schema = schemaOf(bm).getOrElse(throw new IllegalStateException(
      s"branch at $branchRoot records no schema"))
    val key = bm.keyColumn
    val cols = schema.fieldNames.toSeq
    // the branch's net edits: last action per key since the bind
    // (update PREIMAGES dropped — pre and post share a _version, and
    // the post is the action)
    val delta = changes(spark, branchRoot, 0L, branchCur)
      .filter(col("_change_type") =!= "update_preimage")
    val last = delta.groupBy(col(key).as("__graft_mb_k"))
      .agg(max_by(
        struct((cols.map(col) :+ col("_change_type").as("__t")): _*),
        col("_version")).as("__s"))
      .select(cols.map(c => col(s"__s.`$c`").as(c)) :+
        col("__s.__t").as("__t"): _*)
      .cache()
    // The adjudicated DELETE-KEY set's durable home for the one crash
    // window where it cannot be re-derived: under onConflict="source"
    // with conflicts, once the upsert leg commits, the source's change
    // feed contains the merge's own rows — a retry re-deriving deletes
    // from the branch feed alone would drop the first attempt's
    // conflict anti-join and delete keys that adjudication said keep
    // the source's value. The set is persisted BEFORE the first leg
    // commits and removed after the delete leg lands; other modes'
    // delete sets are conflict-independent and never write it.
    val pendingDir = mergePendingDir(spark, srcRoot, branchRoot, token)
    val pendingFs = fsOf(spark, pendingDir)
    try {
      // REPLAY short-circuit BEFORE conflict detection: once either
      // leg committed, the source's change feed contains THIS merge's
      // own rows — re-deriving conflicts would read the merge-back as
      // a concurrent source edit and refuse its own retry forever.
      // Conflicts were adjudicated when the first leg landed; a retry
      // only COMPLETES the missing leg (each leg's ledger no-ops when
      // done), reading the persisted delete set when one exists.
      val srcM0 = currentManifest(spark, srcRoot).getOrElse(
        throw new IllegalStateException(s"no table at $srcRoot"))
      // the upsert leg rides an identity-comparator mapping; on a
      // normalized-key layout that would bucket raw keys wrong — the
      // mergeInto refusal discipline applies here too
      require(srcM0.keyExpr.isEmpty && !srcM0.udfKey,
        s"table at $srcRoot is laid out by a normalized key " +
          "comparator — mergeBranch's upsert leg cannot address it; " +
          "apply the branch delta with merge() and the " +
          "comparator-holding mapping instead")
      // SCHEMA DIVERGENCE is adjudicated here, not left to the write
      // funnel: the refusals carry the branch-merge story (rebase vs
      // evolve), and the checks re-run naturally on a retry (a landed
      // upsert leg already evolved the source, so its retry sees
      // convergence).
      schemaOf(srcM0).foreach { srcSchema =>
        val srcTypes = srcSchema.fields.map(f => f.name -> f.dataType).toMap
        val brTypes = schema.fields.map(f => f.name -> f.dataType).toMap
        val srcOnly = srcSchema.fieldNames.filterNot(brTypes.contains)
        require(srcOnly.isEmpty,
          s"mergeBranch: the source at $srcRoot evolved column(s) " +
            s"${srcOnly.mkString(", ")} after the bind at v$bindV — " +
            "the branch's rows cannot supply their values (the upsert " +
            "would erase them for every merged key). Rebase: re-clone " +
            "and replay the branch's edits")
        val retyped = schema.fields.collect {
          case f if srcTypes.get(f.name).exists(_ != f.dataType) =>
            s"${f.name} ${srcTypes(f.name).sql} -> ${f.dataType.sql}"
        }
        require(retyped.isEmpty,
          s"mergeBranch: column type(s) diverged since the bind at " +
            s"v$bindV: ${retyped.mkString(", ")} — re-typing cannot " +
            "merge back; rebase into a re-typed table")
        val branchOnly = schema.fieldNames.filterNot(srcTypes.contains)
        require(branchOnly.isEmpty || evolveSchema,
          s"mergeBranch: the branch added column(s) " +
            s"${branchOnly.mkString(", ")} since the bind at v$bindV — " +
            "pass evolveSchema = true to evolve the source (old source " +
            "rows read them as NULL), or drop them on the branch first")
      }
      val upsertDone =
        srcM0.lastBatches.get(upStream).contains(token)
      val deleteDone =
        srcM0.lastBatches.get(delStream).contains(token)
      if (upsertDone || deleteDone) {
        if (!deleteDone) {
          // the persisted adjudicated set wins over re-derivation: it
          // is exactly the set the landed upsert leg was paired with
          val pendingExists = pendingFs.exists(pendingDir)
          val deletes =
            if (pendingExists)
              spark.read.schema(
                org.apache.spark.sql.types.StructType(
                  schema.fields.filter(_.name == key)))
                .parquet(pendingDir.toString)
            else last.filter(col("__t") === "delete").select(col(key))
          val ranDeletes = deletes.limit(1).collect().nonEmpty
          if (ranDeletes)
            DerivedTable.deleteChunked(spark, srcRoot, schema, key,
              deletes, baseVersion = token,
              tokenStream = delStream,
              maxDriverKeys = maxDriverKeys)
          // an EMPTY persisted set can never record its delete token
          // (deleteChunked no-ops), so the pending dir must OUTLIVE
          // this replay too: deleting it would make the next replay
          // fall back to the RAW branch feed, resurrecting deletes the
          // "source" adjudication dropped (data loss). Keep it; every
          // future replay reads the same empty set — always correct.
          if (ranDeletes && pendingFs.exists(pendingDir))
            pendingFs.delete(pendingDir, true)
        } else if (pendingFs.exists(pendingDir))
          pendingFs.delete(pendingDir, true)
        return (0L, 0L, 0L)
      }
      // conflicts: keys the SOURCE also changed since the bind
      val srcCur = srcM0.version
      val srcChanged =
        if (srcCur <= bindV) emptyFrame(spark,
          org.apache.spark.sql.types.StructType(
            schema.fields.filter(_.name == key)))
        else changes(spark, srcRoot, bindV, srcCur)
          .filter(col("_change_type") =!= "update_preimage")
          .select(col(key)).distinct()
      val conflictKeys = last.select(col(key))
        .join(srcChanged, Seq(key), "left_semi").cache()
      val conflicts = conflictKeys.count()
      if (conflicts > 0 && onConflict == "fail") {
        val sample = conflictKeys.limit(5).collect()
          .map(_.get(0)).mkString(", ")
        throw new IllegalStateException(
          s"mergeBranch: $conflicts key(s) changed on BOTH sides " +
            s"since the bind at v$bindV (source now at v$srcCur; " +
            s"e.g. $sample) — resolve with " +
            "onConflict = \"branch\" or \"source\", or rebase by hand")
      }
      val applied =
        if (onConflict == "source" && conflicts > 0)
          last.join(conflictKeys, Seq(key), "left_anti")
        else last
      val upserts = applied.filter(col("__t") =!= "delete")
        .select(cols.map(col): _*)
      val deletes = applied.filter(col("__t") === "delete")
        .select(col(key))
      val nUp = upserts.count()
      val nDel = deletes.count()
      conflictKeys.unpersist()
      // persist the adjudicated delete set BEFORE any leg commits —
      // only when a retry could not re-derive it (see pendingDir)
      if (onConflict == "source" && conflicts > 0)
        deletes.write.mode("overwrite").parquet(pendingDir.toString)
      if (nUp > 0) {
        val m = new graft.mapping.Mapping(keyColumnName = key)
        cols.foreach(m.auto(_))
        m.complete(schema)
        merge(upserts, token, m, srcRoot, schema,
          streamId = upStream, evolveSchema = evolveSchema)
      }
      if (nDel > 0)
        DerivedTable.deleteChunked(spark, srcRoot, schema, key,
          deletes, baseVersion = token,
          tokenStream = delStream,
          maxDriverKeys = maxDriverKeys)
      // keep the pending dir when adjudication emptied the delete set:
      // nDel == 0 skips deleteChunked, so the delete-leg token is never
      // recorded and a replay of this token would otherwise re-derive
      // deletes from the RAW feed without the conflict anti-join —
      // deleting keys the "source" mode decided to keep. The persisted
      // EMPTY set is the durable record of that decision (one small
      // dir per all-deletes-conflicted merge; self-describing path).
      val keepPending =
        onConflict == "source" && conflicts > 0 && nDel == 0
      if (!keepPending && pendingFs.exists(pendingDir))
        pendingFs.delete(pendingDir, true)
      (nUp, nDel, conflicts)
    } finally last.unpersist()
  }

  /** Where [[mergeBranch]] persists a "source"-mode merge's
    * adjudicated delete-key set between its two legs (package-visible
    * so the crash-retry spec can construct the mid-crash state). */
  private[graft] def mergePendingDir(spark: SparkSession,
      srcRoot: String, branchRoot: String, token: Long): Path = {
    val qBranch = {
      val p = new Path(branchRoot)
      fsOf(spark, p).makeQualified(p).toString
    }
    new Path(s"$srcRoot/mergepending/${cloneTagName(qBranch)}-t$token")
  }

  /** [[cloneAt]] by TAG name — clone exactly the pinned snapshot. */
  def cloneAt(spark: SparkSession, srcRoot: String, dstRoot: String,
      tag: String): Long =
    cloneAt(spark, srcRoot, dstRoot, resolveTag(spark, srcRoot, tag))

  /** Deterministic source-pin tag for a clone destination: stable
    * across retries (a replayed clone re-tags the same name to the
    * same version — a no-op move), valid under [[validTagName]]. The
    * suffix hashes the RAW path: sanitizing alone could collide two
    * destinations ("/a/b" vs "/a_b") onto one tag name, silently
    * MOVING the older clone's pin — and an unpinned clone is exposed
    * to the source's vacuum. */
  private def cloneTagName(dstRoot: String): String = {
    val sane = dstRoot.map(c =>
      if (c.isLetterOrDigit || c == '.' || c == '_' || c == '-') c
      else '_')
    val h = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dstRoot))
    ("clone-" + sane).take(118) + "-" + h
  }

  /** Deletes everything no longer referenced: data directories absent
    * from the RETAINED manifests (the newest `keepLast` committed
    * versions — the table's time-travel window; default 1 = current
    * only) PLUS every TAGGED version ([[tag]] — a pinned snapshot
    * stays fully readable until its tag is deleted),
    * manifests below the retained window, loser/crashed side
    * directories, and decided temp manifests. An IN-FLIGHT commit's
    * artifacts — temp manifests AND data/history/stats dirs at versions
    * above current — are kept (one consistent rule), so a writer racing
    * vacuum either commits intact or loses the OCC rename and cleans up
    * itself; vacuum can never let it publish a manifest whose data was
    * just deleted. Per retired version the side-dir GC runs BEFORE its
    * manifest is dropped, so committedSideDirs' vacuumed-version fallback
    * (accept the survivor) stays sound even across a crash mid-vacuum.
    * Maintenance only — run when no reader holds a manifest OLDER than
    * the retained window (readers resolve the manifest once per query;
    * `keepLast` IS the retention policy that makes the race benign for
    * readers within the window).
    *
    * On a DERIVED table root ([[MaterializedView]]/[[SecondaryIndex]]),
    * `keepLast` must also cover the refresh cadence: crash recovery
    * reads the derived state at the last completed refresh's marker
    * version ([[DerivedTable.markerVersion]]), and vacuuming below it
    * makes a crashed-refresh retry fail loudly instead of recovering.
    * keepLast >= 1 + the max ops (deletes + merges) a single refresh can
    * commit is safe; prefer a generous window on derived tables. */
  /** `retainMillis > 0` additionally retains every version COMMITTED
    * within that window (manifest-file mtime), whatever `keepLast`
    * says — the reader-race guard: a reader resolves its manifest once
    * per query, so "never vacuum anything younger than the longest
    * query you run" turns the documented race into an operational
    * guarantee (the Delta retention-hours discipline). */
  def vacuum(spark: SparkSession, root: String, keepLast: Int = 1,
      retainMillis: Long = 0L): Unit =
    currentManifest(spark, root).foreach { m =>
      require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
      require(retainMillis >= 0,
        s"retainMillis must be >= 0, got $retainMillis")
      val retained: Seq[Manifest] = {
        val dir = new Path(s"$root/manifest")
        val fs = fsOf(spark, dir)
        val committed = fs.listStatus(dir).toSeq
          .map(_.getPath.getName)
          .filter { n =>
            val v = n.stripPrefix("m")
            n.startsWith("m") && v.nonEmpty && v.forall(_.isDigit)
          }
          .map(_.stripPrefix("m").toLong).sorted
        // TAGGED versions are pinned snapshots: retained in full
        // (manifest + data) beyond the keepLast window until their tag
        // is deleted. Tags pointing at already-vacuumed versions (a
        // pre-tag vacuum raced the tag write) resolve to nothing here —
        // the tag read fails loudly, never silently serves a partial
        // snapshot.
        val pinned = tagsOf(spark, root).values.toSet
        // age reads the MONOTONIC effective times ([[commitTimes]]):
        // under raw mtimes a newer version with a skewed-early stamp
        // could age out while an older one stays — retention would
        // contradict version order
        val young: Set[Long] =
          if (retainMillis <= 0) Set.empty
          else {
            val cutoff = System.currentTimeMillis() - retainMillis
            commitTimes(spark, root)
              .collect { case (v, t) if t >= cutoff => v }.toSet
          }
        (committed.takeRight(keepLast) ++
          committed.filter(pinned) ++
          committed.filter(young)).distinct.sorted
          .map(readManifest(spark, root, _))
      }
      val keepManifests = retained.map(r => s"m${r.version}").toSet
      val live: Set[String] = retained
        .flatMap(_.entries.filterNot(isExt)
          .map(_.relPath.split("/")(1)))
        .toSet // data/<dir>/_bucket=k; ext entries live in ANOTHER
               // table's tree — this vacuum never touches them
      val dataDir = new Path(s"$root/data")
      val dfs = fsOf(spark, dataDir)
      if (dfs.exists(dataDir))
        dfs.listStatus(dataDir).foreach { st =>
          // Dirs at versions ABOVE current belong to an IN-FLIGHT commit
          // (same keep rule as temp manifests below): deleting them would
          // let a writer mid-commit win its manifest rename and publish a
          // manifest pointing at vacuumed data — silent loss. Unparseable
          // names are kept too (unknown ≠ garbage).
          val inFlight = parseSideDirName(st.getPath.getName) match {
            case Some((v, _, _)) => v > m.version
            case None => true
          }
          if (!live(st.getPath.getName) && !inFlight)
            dfs.delete(st.getPath, true)
        }
      // Side-dir GC: for every version that still has a manifest, keep
      // only the winning attempt's directory — crashed/losing leftovers go.
      val manDir = new Path(s"$root/manifest")
      val mfs = fsOf(spark, manDir)
      val sideIdOf: Map[Long, String] = mfs.listStatus(manDir).toSeq
        .map(_.getPath.getName)
        .filter { n =>
          val s = n.stripPrefix("m")
          n.startsWith("m") && s.nonEmpty && s.forall(_.isDigit)
        }
        .map(_.stripPrefix("m").toLong)
        .map(v => v -> readManifest(spark, root, v).sideId).toMap
      Seq("history", "stats", "bloom", "bloomsum", "zones",
          "indexreg", "viewreg", "maintain", "tags", "colstats",
          "constraints", "origin")
        .foreach { kind =>
        val kd = new Path(s"$root/$kind")
        val kfs = fsOf(spark, kd)
        if (kfs.exists(kd)) {
          val names = kfs.listStatus(kd).toSeq.map(_.getPath.getName)
          // Per version: keep exactly the dirs readers resolve. For
          // history/stats that is the winning attempt's HIGHEST
          // _SUCCESS revision (a completed redaction supersedes the
          // original; a torn one is garbage); bloom/zone revisions are
          // ADDITIVE ([[committedAdditiveDirs]]) — every _SUCCESS
          // revision of the winning attempt stays.
          val committed = names
            .flatMap(n => parseSideDirName(n).map {
              case (v, a, r) => (v, a, r, n) })
            .filter { case (v, a, _, n) =>
              sideIdOf.get(v).contains(a) &&
                kfs.exists(new Path(s"$root/$kind/$n/_SUCCESS"))
            }
          val keep: Set[String] =
            if (kind != "history" && kind != "stats") // additive kinds
              committed.map(_._4).toSet
            else committed.groupBy(_._1).values
              .map(_.maxBy(_._3)._4).toSet
          names.foreach { n =>
            parseSideDirName(n).foreach { case (v, _, _) =>
              // versions with no manifest left alone (in-flight above
              // current, or manifest vacuumed in an earlier pass)
              if (sideIdOf.contains(v) && !keep(n))
                kfs.delete(new Path(s"$root/$kind/$n"), true)
            }
          }
        }
      }
      // Then retire manifests below the retained window and decided temp
      // files. Temp manifests at versions ABOVE current belong to
      // in-flight commits — keep.
      mfs.listStatus(manDir).foreach { st =>
        val n = st.getPath.getName
        val keep = keepManifests(n) ||
          "^\\.tmp-m(\\d+)".r.findFirstMatchIn(n)
            .exists(_.group(1).toLong > m.version)
        if (!keep) mfs.delete(st.getPath, true)
      }
    }
}
