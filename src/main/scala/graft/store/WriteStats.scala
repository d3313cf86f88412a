package graft.store

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file key-stats aggregate for the manifest write path, evaluated
  * INSIDE the write job via `Dataset.observe` — so a commit's FileEntry
  * stats (rows, normalized min/max key, numeric key zones, null-key flag)
  * cost zero extra Spark jobs and, decisively at scale, zero RE-READ of
  * the bytes just written. The readback formulation this replaces paid a
  * full scan of every committed file per commit: one extra table pass per
  * bootstrap/rebucket, one extra fragment pass per incremental merge.
  *
  * Inputs per row: `key` — the row's bucket, grouped per FILE as
  * [[WriteStatsAgg.fileKey]] (one file per (task, bucket) pair);
  * `normStr` — the normalized key rendered `cast(norm as string)`;
  * `zone` — the order-true numeric rendering ([[ZoneSkip.keyRendered]]),
  * LongType/DoubleType/NullType; `nullFlag` — 1 when the raw or
  * normalized key is null.
  *
  * Exact-equivalence contract with the readback it replaces:
  * - min/max of `normStr` use UTF8String byte order (Spark's string
  *   ordering), nulls skipped, null when all-null — rendered "" by the
  *   caller, as before.
  * - zone min/max compare NUMERICALLY (java.lang.Long / Double.compare —
  *   Spark's own double ordering incl. NaN-greatest; -0.0 was already
  *   normalized by the rendering expression) and are rendered with
  *   `toString`, which is exactly Spark's `cast(long|double as string)`.
  * - rows/nullK replicate count(1) and max(flag).
  *
  * The buffer is bounded by the files the write commits — one per
  * touched bucket on the hash layout, ≤ the write's task count per
  * bucket on a cluster layout — the same cardinality the per-file
  * readback it replaces ships to the driver.
  *
  * Metrics ride Spark's accumulator path for observed metrics: in the
  * write job the aggregate sits in the RESULT stage (directly under the
  * write), where duplicate task completions (retries, speculation) are
  * dropped before accumulator merge, so counts stay exact.
  */
/** Driver-side retrieval for [[WriteStatsAgg]] observations. */
object WriteStats {
  /** Waits (bounded) for the write's observed metrics row. None only if
    * the listener never delivered — the caller falls back to the
    * readback of the written files, so a miss degrades to the old cost,
    * never to a wrong manifest. The action has already completed when
    * this is called; delivery is the listener thread's onSuccess,
    * normally within a few ms. */
  def awaitRow(obs: org.apache.spark.sql.Observation,
      timeoutMs: Long = 120000L): Option[org.apache.spark.sql.Row] =
    scala.util.Try(scala.concurrent.Await.result(
      org.apache.spark.sql.graft.Bridge.observationFuture(obs),
      scala.concurrent.duration.Duration(timeoutMs, "ms"))).toOption
}

case class WriteStatsAgg(
    key: Expression,
    normStr: Expression,
    zone: Expression,
    nullFlag: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.LongMap[WriteStatsAgg.Acc]] {

  // 0 = no zone column, 1 = long domain, 2 = double domain
  private val zoneKind: Int = zone.dataType match {
    case NullType => 0
    case LongType => 1
    case DoubleType => 2
    case dt => throw new IllegalArgumentException(
      s"zone must be null/long/double, got $dt")
  }

  override def children: Seq[Expression] = Seq(key, normStr, zone, nullFlag)
  override def nullable: Boolean = false
  override def dataType: DataType = MapType(LongType,
    StructType(Seq(
      StructField("rows", LongType, nullable = false),
      StructField("minKey", StringType, nullable = true),
      StructField("maxKey", StringType, nullable = true),
      StructField("minZ", StringType, nullable = true),
      StructField("maxZ", StringType, nullable = true),
      StructField("nullK", IntegerType, nullable = false))),
    valueContainsNull = false)

  override def createAggregationBuffer(): mutable.LongMap[WriteStatsAgg.Acc] =
    mutable.LongMap.empty

  override def update(
      buf: mutable.LongMap[WriteStatsAgg.Acc],
      input: InternalRow): mutable.LongMap[WriteStatsAgg.Acc] = {
    val k0 = key.eval(input)
    if (k0 == null) return buf // never produced by the write path
    val acc = buf.getOrElseUpdate(
      WriteStatsAgg.fileKeyOf(k0.asInstanceOf[Long]), new WriteStatsAgg.Acc)
    acc.rows += 1L
    val ns = normStr.eval(input)
    if (ns != null) {
      val s = ns.asInstanceOf[UTF8String]
      if (acc.minK == null || s.compareTo(acc.minK) < 0) acc.minK = s.clone()
      if (acc.maxK == null || s.compareTo(acc.maxK) > 0) acc.maxK = s.clone()
    }
    if (zoneKind != 0) {
      val z = zone.eval(input)
      if (z != null) {
        if (zoneKind == 1) {
          val v = z.asInstanceOf[Long]
          if (!acc.hasZ || v < acc.zMinL) acc.zMinL = v
          if (!acc.hasZ || v > acc.zMaxL) acc.zMaxL = v
        } else {
          val v = z.asInstanceOf[Double]
          if (!acc.hasZ || java.lang.Double.compare(v, acc.zMinD) < 0)
            acc.zMinD = v
          if (!acc.hasZ || java.lang.Double.compare(v, acc.zMaxD) > 0)
            acc.zMaxD = v
        }
        acc.hasZ = true
      }
    }
    if (nullFlag.eval(input).asInstanceOf[Int] == 1) acc.nullK = 1
    buf
  }

  override def merge(
      a: mutable.LongMap[WriteStatsAgg.Acc],
      b: mutable.LongMap[WriteStatsAgg.Acc])
      : mutable.LongMap[WriteStatsAgg.Acc] = {
    b.foreach { case (k, o) =>
      a.get(k) match {
        case None => a.update(k, o)
        case Some(acc) =>
          acc.rows += o.rows
          if (o.minK != null &&
              (acc.minK == null || o.minK.compareTo(acc.minK) < 0))
            acc.minK = o.minK
          if (o.maxK != null &&
              (acc.maxK == null || o.maxK.compareTo(acc.maxK) > 0))
            acc.maxK = o.maxK
          if (o.hasZ) {
            if (zoneKind == 1) {
              if (!acc.hasZ || o.zMinL < acc.zMinL) acc.zMinL = o.zMinL
              if (!acc.hasZ || o.zMaxL > acc.zMaxL) acc.zMaxL = o.zMaxL
            } else {
              if (!acc.hasZ ||
                  java.lang.Double.compare(o.zMinD, acc.zMinD) < 0)
                acc.zMinD = o.zMinD
              if (!acc.hasZ ||
                  java.lang.Double.compare(o.zMaxD, acc.zMaxD) > 0)
                acc.zMaxD = o.zMaxD
            }
            acc.hasZ = true
          }
          if (o.nullK == 1) acc.nullK = 1
      }
    }
    a
  }

  override def eval(buf: mutable.LongMap[WriteStatsAgg.Acc]): Any = {
    val n = buf.size
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    var i = 0
    buf.foreach { case (k, acc) =>
      keys(i) = k
      val (zmin, zmax) =
        if (!acc.hasZ || zoneKind == 0) (null, null)
        else if (zoneKind == 1)
          (UTF8String.fromString(acc.zMinL.toString),
            UTF8String.fromString(acc.zMaxL.toString))
        else
          (UTF8String.fromString(acc.zMinD.toString),
            UTF8String.fromString(acc.zMaxD.toString))
      vals(i) = new GenericInternalRow(Array[Any](
        acc.rows, acc.minK, acc.maxK, zmin, zmax, acc.nullK))
      i += 1
    }
    new ArrayBasedMapData(
      new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override def serialize(buf: mutable.LongMap[WriteStatsAgg.Acc])
      : Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    def str(s: UTF8String): Unit =
      if (s == null) out.writeInt(-1)
      else { val b = s.getBytes; out.writeInt(b.length); out.write(b) }
    buf.foreach { case (k, acc) =>
      out.writeLong(k)
      out.writeLong(acc.rows)
      out.writeByte(acc.nullK)
      str(acc.minK); str(acc.maxK)
      out.writeBoolean(acc.hasZ)
      if (acc.hasZ) {
        if (zoneKind == 1) { out.writeLong(acc.zMinL); out.writeLong(acc.zMaxL) }
        else { out.writeDouble(acc.zMinD); out.writeDouble(acc.zMaxD) }
      }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte])
      : mutable.LongMap[WriteStatsAgg.Acc] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.LongMap.empty[WriteStatsAgg.Acc]
    def str(): UTF8String = {
      val len = in.readInt()
      if (len < 0) null
      else { val b = new Array[Byte](len); in.readFully(b); UTF8String.fromBytes(b) }
    }
    var i = 0
    while (i < n) {
      val k = in.readLong()
      val acc = new WriteStatsAgg.Acc
      acc.rows = in.readLong()
      acc.nullK = in.readByte().toInt
      acc.minK = str(); acc.maxK = str()
      acc.hasZ = in.readBoolean()
      if (acc.hasZ) {
        if (zoneKind == 1) { acc.zMinL = in.readLong(); acc.zMaxL = in.readLong() }
        else { acc.zMinD = in.readDouble(); acc.zMaxD = in.readDouble() }
      }
      buf.update(k, acc)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): WriteStatsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): WriteStatsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WriteStatsAgg =
    copy(key = newChildren(0), normStr = newChildren(1),
      zone = newChildren(2), nullFlag = newChildren(3))

  override def prettyName: String = "write_stats"
}

/** Per-file NON-KEY column zone stats for the write path, evaluated
  * inside the write job via the same `Dataset.observe` as
  * [[WriteStatsAgg]] — so a declared table's zone sidecar entries for
  * freshly-written files cost zero extra jobs and zero re-read
  * ([[ZoneSkip.buildZones]] consumes them as pending offers and scans
  * only files no offer covers). Inputs per row: `key` — the row's
  * bucket, grouped per file as [[WriteStatsAgg.fileKey]]; one RENDERED
  * expression per zone column ([[ZoneSkip]]'s `rendered` — LongType,
  * DoubleType or StringType, the exact expression whose min/max the
  * readback build aggregates).
  *
  * Equivalence contract with the scan it replaces: per kind the
  * orderings are java.lang.Long.compare / java.lang.Double.compare
  * (Spark's long/double aggregate ordering; -0.0 already normalized by
  * the rendering) / UTF8String byte order (= code-point order =
  * [[ZoneSkip.codePointCompare]]); rendering to string is `toString`
  * (= Spark's cast to string for long/double, identity for strings);
  * `nonNull` = any non-null rendered value (the rendering is
  * null-preserving, so this equals the raw column's non-null witness). */
case class ZoneStatsAgg(
    key: Expression,
    renders: Seq[Expression],
    kindCodes: Seq[Int], // 1 = long, 2 = double, 3 = string — passed
    // explicitly: children are UNRESOLVED at construction, so their
    // dataType cannot be consulted here; the caller knows the schema
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.LongMap[Array[ZoneStatsAgg.ZAcc]]] {

  require(kindCodes.size == renders.size &&
    kindCodes.forall(k => k >= 1 && k <= 3))
  private def kinds: Seq[Int] = kindCodes

  override def children: Seq[Expression] = key +: renders
  override def nullable: Boolean = false
  override def dataType: DataType = MapType(LongType,
    ArrayType(StructType(Seq(
      StructField("minS", StringType, nullable = true),
      StructField("maxS", StringType, nullable = true),
      StructField("nonNull", BooleanType, nullable = false))),
      containsNull = false),
    valueContainsNull = false)

  override def createAggregationBuffer()
      : mutable.LongMap[Array[ZoneStatsAgg.ZAcc]] = mutable.LongMap.empty

  override def update(
      buf: mutable.LongMap[Array[ZoneStatsAgg.ZAcc]],
      input: InternalRow): mutable.LongMap[Array[ZoneStatsAgg.ZAcc]] = {
    val k0 = key.eval(input)
    if (k0 == null) return buf
    val accs = buf.getOrElseUpdate(
      WriteStatsAgg.fileKeyOf(k0.asInstanceOf[Long]),
      Array.fill(renders.size)(new ZoneStatsAgg.ZAcc))
    var i = 0
    while (i < accs.length) {
      val v = renders(i).eval(input)
      if (v != null) {
        val acc = accs(i)
        kinds(i) match {
          case 1 =>
            val x = v.asInstanceOf[Long]
            if (!acc.hasV || x < acc.minL) acc.minL = x
            if (!acc.hasV || x > acc.maxL) acc.maxL = x
          case 2 =>
            val x = v.asInstanceOf[Double]
            if (!acc.hasV || java.lang.Double.compare(x, acc.minD) < 0)
              acc.minD = x
            if (!acc.hasV || java.lang.Double.compare(x, acc.maxD) > 0)
              acc.maxD = x
          case 3 =>
            val x = v.asInstanceOf[UTF8String]
            if (acc.minS == null || x.compareTo(acc.minS) < 0)
              acc.minS = x.clone()
            if (acc.maxS == null || x.compareTo(acc.maxS) > 0)
              acc.maxS = x.clone()
        }
        acc.hasV = true
      }
      i += 1
    }
    buf
  }

  override def merge(
      a: mutable.LongMap[Array[ZoneStatsAgg.ZAcc]],
      b: mutable.LongMap[Array[ZoneStatsAgg.ZAcc]])
      : mutable.LongMap[Array[ZoneStatsAgg.ZAcc]] = {
    b.foreach { case (k, os) =>
      a.get(k) match {
        case None => a.update(k, os)
        case Some(accs) =>
          var i = 0
          while (i < accs.length) {
            val o = os(i)
            if (o.hasV) {
              val acc = accs(i)
              kinds(i) match {
                case 1 =>
                  if (!acc.hasV || o.minL < acc.minL) acc.minL = o.minL
                  if (!acc.hasV || o.maxL > acc.maxL) acc.maxL = o.maxL
                case 2 =>
                  if (!acc.hasV ||
                      java.lang.Double.compare(o.minD, acc.minD) < 0)
                    acc.minD = o.minD
                  if (!acc.hasV ||
                      java.lang.Double.compare(o.maxD, acc.maxD) > 0)
                    acc.maxD = o.maxD
                case 3 =>
                  if (acc.minS == null || o.minS.compareTo(acc.minS) < 0)
                    acc.minS = o.minS
                  if (acc.maxS == null || o.maxS.compareTo(acc.maxS) > 0)
                    acc.maxS = o.maxS
              }
              acc.hasV = true
            }
            i += 1
          }
      }
    }
    a
  }

  private def renderOf(i: Int, acc: ZoneStatsAgg.ZAcc)
      : (UTF8String, UTF8String) =
    if (!acc.hasV) (null, null)
    else kinds(i) match {
      case 1 => (UTF8String.fromString(acc.minL.toString),
        UTF8String.fromString(acc.maxL.toString))
      case 2 => (UTF8String.fromString(acc.minD.toString),
        UTF8String.fromString(acc.maxD.toString))
      case 3 => (acc.minS, acc.maxS)
    }

  override def eval(buf: mutable.LongMap[Array[ZoneStatsAgg.ZAcc]]): Any = {
    val n = buf.size
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    var i = 0
    buf.foreach { case (k, accs) =>
      keys(i) = k
      vals(i) = new GenericArrayData(accs.zipWithIndex.map { case (acc, j) =>
        val (mn, mx) = renderOf(j, acc)
        new GenericInternalRow(Array[Any](mn, mx, acc.hasV))
      }.toArray[Any])
      i += 1
    }
    new ArrayBasedMapData(
      new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override def serialize(buf: mutable.LongMap[Array[ZoneStatsAgg.ZAcc]])
      : Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    def str(s: UTF8String): Unit =
      if (s == null) out.writeInt(-1)
      else { val b = s.getBytes; out.writeInt(b.length); out.write(b) }
    buf.foreach { case (k, accs) =>
      out.writeLong(k)
      accs.zipWithIndex.foreach { case (acc, i) =>
        out.writeBoolean(acc.hasV)
        if (acc.hasV) kinds(i) match {
          case 1 => out.writeLong(acc.minL); out.writeLong(acc.maxL)
          case 2 => out.writeDouble(acc.minD); out.writeDouble(acc.maxD)
          case 3 => str(acc.minS); str(acc.maxS)
        }
      }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte])
      : mutable.LongMap[Array[ZoneStatsAgg.ZAcc]] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.LongMap.empty[Array[ZoneStatsAgg.ZAcc]]
    def str(): UTF8String = {
      val len = in.readInt()
      if (len < 0) null
      else { val b = new Array[Byte](len); in.readFully(b)
        UTF8String.fromBytes(b) }
    }
    var r = 0
    while (r < n) {
      val k = in.readLong()
      val accs = Array.fill(renders.size)(new ZoneStatsAgg.ZAcc)
      var i = 0
      while (i < accs.length) {
        val acc = accs(i)
        acc.hasV = in.readBoolean()
        if (acc.hasV) kinds(i) match {
          case 1 => acc.minL = in.readLong(); acc.maxL = in.readLong()
          case 2 => acc.minD = in.readDouble(); acc.maxD = in.readDouble()
          case 3 => acc.minS = str(); acc.maxS = str()
        }
        i += 1
      }
      buf.update(k, accs)
      r += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): ZoneStatsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ZoneStatsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ZoneStatsAgg =
    copy(key = newChildren.head, renders = newChildren.tail)

  override def prettyName: String = "zone_stats"
}

object ZoneStatsAgg {
  final class ZAcc {
    var hasV: Boolean = false
    var minL: Long = 0L
    var maxL: Long = 0L
    var minD: Double = 0.0
    var maxD: Double = 0.0
    var minS: UTF8String = null
    var maxS: UTF8String = null
  }

  /** One file's per-column (minS, maxS, nonNull) triples decoded to
    * external types, in the constructor's column order. */
  private[store] def decode(v: Any)
      : Map[Long, Seq[(String, String, Boolean)]] =
    v.asInstanceOf[scala.collection.Map[Any, Any]].map { case (k, arr) =>
      val triples = arr.asInstanceOf[scala.collection.Seq[Any]].map { e =>
        val row = e.asInstanceOf[org.apache.spark.sql.Row]
        (row.getString(0), row.getString(1), row.getBoolean(2))
      }.toSeq
      (k match {
        case l: Long => l
        case i: Int => i.toLong
        case o => o.toString.toLong
      }) -> triples
    }.toMap
}

object WriteStatsAgg {
  /** The FILE a row lands in: (write task << 32) | bucket. The write
    * opens one file per (task, bucket) pair, and the task is the
    * part-file name's id. */
  private[store] def fileKey(task: Int, bucket: Long): Long =
    (task.toLong << 32) | (bucket & 0xffffffffL)

  /** [[fileKey]] of a row in the running task. The task id is read
    * here because SparkPartitionID is Nondeterministic and cannot eval
    * on the observed-metrics path. */
  private[store] def fileKeyOf(bucket: Long): Long =
    fileKey(org.apache.spark.TaskContext.getPartitionId(), bucket)

  final class Acc {
    var rows: Long = 0L
    var minK: UTF8String = null
    var maxK: UTF8String = null
    var zMinL: Long = 0L
    var zMaxL: Long = 0L
    var zMinD: Double = 0.0
    var zMaxD: Double = 0.0
    var hasZ: Boolean = false
    var nullK: Int = 0
  }

  /** One observed-stats group decoded to external types. */
  final case class Group(
      rows: Long, minKey: String, maxKey: String,
      minZ: String, maxZ: String, nullK: Boolean)

  /** Decodes the observation row's map value (external types: Map of
    * Long -> Row) into per-group stats. */
  private[store] def decode(v: Any): Map[Long, Group] =
    v.asInstanceOf[scala.collection.Map[Any, Any]].map { case (k, r) =>
      val row = r.asInstanceOf[org.apache.spark.sql.Row]
      val g = Group(row.getLong(0),
        Option(row.getString(1)).getOrElse(""),
        Option(row.getString(2)).getOrElse(""),
        Option(row.getString(3)).getOrElse(""),
        Option(row.getString(4)).getOrElse(""),
        row.getInt(5) == 1)
      (k match {
        case l: Long => l
        case i: Int => i.toLong
        case o => o.toString.toLong
      }) -> g
    }.toMap
}
