package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.mapping.Mapping
import graft.operators.{CreateAndUpdate, ImportMode}
import graft.store.ManifestTable

/** Continuous import: applies the key-matched upsert to every micro-batch
  * of a CSV-shaped source stream, maintaining the target as a
  * [[graft.store.ManifestTable]] — an INCREMENTAL merge whose write cost
  * is proportional to the batch's touched key-hash buckets, not the table.
  *
  * The reference commits per row through an ORM session
  * (importtask.py:369-371); the earlier sink here rewrote the whole
  * merged target per micro-batch (correct, atomic, but at 100 TB a
  * 1,000-row batch would rewrite 100 TB). The manifest format keeps the
  * atomicity (manifest rename is the single commit point) while
  * rewriting only the data files whose buckets the batch touches.
  *
  * Exactly-once under at-least-once foreachBatch delivery: the
  * (checkpoint, batchId) pair is the merge's idempotency token, so a
  * replay of the last committed batch is a no-op, a crash before the
  * manifest rename leaves only an unreferenced data directory that the
  * replay overwrites, and a stream restarted on a FRESH checkpoint
  * (batchIds reset to 0) is a new token — not a false replay that would
  * silently drop its first batch.
  */
object StreamingImport {

  /** Reads the maintained target state (empty-schema DF if none yet). */
  def readTarget(spark: SparkSession, targetRoot: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    ManifestTable.read(spark, targetRoot, schema)

  /** Starts the continuous import. `rawStream` must be a streaming
    * DataFrame shaped like a [[graft.sources.Sources]] output
    * (`_raw` array<string> + `_line`). `numBuckets` is a table property:
    * it applies on table creation and is ignored afterwards.
    *
    * `delta = true` selects the LSM write path: each micro-batch writes
    * batch-sized per-bucket delta files instead of rewriting its touched
    * buckets whole — the right trade for high-frequency small batches
    * grazing large buckets (readers reconcile; see
    * [[ManifestTable.merge]]). `compactEvery = N` (with delta) folds
    * delta-carrying buckets back to single files after every N batches,
    * bounding read amplification to N delta files per bucket; the
    * compaction commits through the same OCC manifest swap and is
    * row-invisible, so a crash or replay around it is harmless. */
  def start(
      rawStream: DataFrame,
      mapping: Mapping,
      targetRoot: String,
      targetSchema: org.apache.spark.sql.types.StructType,
      checkpoint: String,
      mode: ImportMode = CreateAndUpdate,
      nonNullable: Seq[String] = Nil,
      numBuckets: Int = 16,
      recordStats: Boolean = false,
      delta: Boolean = false,
      compactEvery: Int = 0): StreamingQuery = {
    mapping.complete(targetSchema)
    rawStream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, mapping, targetRoot, targetSchema,
          mode, nonNullable, numBuckets, recordStats,
          streamId = checkpointIdentity(batch.sparkSession, checkpoint),
          delta = delta, compactEvery = compactEvery)
      }
      .start()
  }

  /** Stable identity of the CHECKPOINT INCARNATION: Spark writes
    * `<checkpoint>/metadata` ({"id": "<uuid>"}) when a query first
    * starts and keeps it for the checkpoint's lifetime; wiping the
    * checkpoint in place regenerates it. Using this uuid (not the
    * path) as the merge token's streamId means a wiped-and-reused
    * checkpoint path reprocesses as NEW data instead of colliding
    * with the old incarnation's last committed batch (whose batchIds
    * also started at 0). Falls back to the path when absent, and with
    * a WARN when present but unreadable. */
  private[graft] def checkpointIdentity(
      spark: SparkSession, checkpoint: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$checkpoint/metadata")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) checkpoint
      else {
        val in = fs.open(p)
        val text =
          try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(text)
          .map(_.group(1)).getOrElse(checkpoint)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"unreadable checkpoint metadata at $checkpoint/metadata; the " +
            "merge token's stream id falls back to the checkpoint path, " +
            "which differs from the uuid earlier batches of this " +
            "checkpoint may have committed under", e)
        checkpoint
    }

  /** One micro-batch merge — the foreachBatch body, exposed so replay
    * semantics are testable. Delegates to [[ManifestTable.merge]] with
    * (streamId, batchId) as the idempotency token: only the batch's
    * touched buckets are rewritten; untouched data files carry into the
    * new manifest verbatim. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      mapping: Mapping,
      targetRoot: String,
      targetSchema: org.apache.spark.sql.types.StructType,
      mode: ImportMode = CreateAndUpdate,
      nonNullable: Seq[String] = Nil,
      numBuckets: Int = 16,
      recordStats: Boolean = false,
      streamId: String = "",
      delta: Boolean = false,
      compactEvery: Int = 0): Unit = {
    val projected = mapping.project(batch)
    ManifestTable.merge(projected, batchId, mapping, targetRoot,
      targetSchema, mode, nonNullable, numBuckets,
      recordStats = recordStats, streamId = streamId, delta = delta)
    if (delta && compactEvery > 0 && batchId > 0 &&
        batchId % compactEvery == 0) {
      // Maintenance token derived from (streamId, batchId): idempotent on
      // the replay of THIS batch; a re-run after a later maintenance op is
      // harmless (compaction is row-invisible) and only the most recent
      // batch ever replays. Compaction has its OWN manifest token field
      // (lastCompact), so this derived value can never collide with a
      // user-chosen delete/rebucket token and suppress a GDPR erasure.
      val token = (streamId.hashCode.toLong << 32) | (batchId & 0xffffffffL)
      ManifestTable.compact(batch.sparkSession, targetRoot, targetSchema,
        mapping.keyColumnName, token,
        keyComparator = mapping.keyComparator)
    }
    ()
  }
}
