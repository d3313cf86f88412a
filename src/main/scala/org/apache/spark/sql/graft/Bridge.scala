package org.apache.spark.sql.graft

import scala.concurrent.duration.Duration

import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression,
  SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  Partitioning}
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}
import org.apache.spark.sql.execution.{CollectMetricsExec,
  FileSourceScanExec, LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.internal.SQLConf

/** Bridge between graft's custom Catalyst [[Expression]]s and the public
  * [[Column]] API. Spark 4 wraps columns in `ColumnNode`s; the conversion
  * helpers live in `org.apache.spark.sql.classic` with `private[sql]`
  * visibility, so this one-file shim is placed under the sql package.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Test seam: drains the listener bus so specs can assert on job
    * counts deterministically (`listenerBus` is `private[spark]`). */
  def waitListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Completion of an [[org.apache.spark.sql.Observation]]'s metrics
    * row (`future` is `private[sql]`; the public `get` blocks with no
    * timeout), so callers can bound their wait. */
  def observationFuture(obs: org.apache.spark.sql.Observation)
      : scala.concurrent.Future[org.apache.spark.sql.Row] =
    obs.future

  /** A frame exchanged ONCE, its map stage already run: `bytes(p)` is
    * partition p's shuffle size (0 iff p holds no row); `observed` holds
    * the metric row of each named `observe` in the exchanged plan.
    * `frame(g)` reads the materialized shuffle as `g` tasks, task i
    * reading the partitions p ≡ i (mod g) ([[modGroups]]), and declares
    * `HashPartitioning(keys, g)`, so an aggregate or a join on the same
    * keys over it plans no further Exchange. */
  final class Exchanged private[Bridge] (shuffle: RDD[InternalRow],
      output: Seq[Attribute], partitioning: Partitioning,
      session: SparkSession, val bytes: Array[Long],
      val observed: Map[String, Row]) {
    def frame(g: Int): DataFrame = rows(session, output,
      modGroups(shuffle, g), partitioning match {
        case h: HashPartitioning => h.copy(numPartitions = g)
        case single => single // n = 1: SinglePartition, and g = 1
      }, Nil)
  }

  /** Exchanges `df` on `hashpartitioning(keys, n)` and runs the map
    * stage as one job (`submitShuffleJob`, whose `MapOutputStatistics`
    * give the per-partition bytes); partition p then holds exactly the
    * rows with `pmod(murmur3(keys), n) = p`. The exchange is planned
    * without AQE (`prepareExecutedPlan`, the subquery preparation):
    * under AQE a materialized empty stage is replaced by an empty
    * relation, taking its statistics and observed metrics with it, and
    * an AQE plan reports `UnknownPartitioning`. None when the planner
    * removed the exchange (a source already partitioned that way). */
  def exchangeOnce(df: DataFrame, keys: Seq[Column], n: Int)
      : Option[Exchanged] = {
    val ds = df.repartition(n, keys: _*).asInstanceOf[Dataset[Row]]
    val session = ds.sparkSession
    QueryExecution.prepareExecutedPlan(session, ds.queryExecution.sparkPlan)
    match {
      case e: ShuffleExchangeExec if e.outputPartitioning.numPartitions == n =>
        val st = org.apache.spark.util.ThreadUtils.awaitResult(
          e.submitShuffleJob(), Duration.Inf)
        val observed = e.collect {
          case c: CollectMetricsExec => c.name -> c.collectedMetrics }.toMap
        Some(new Exchanged(e.execute(), e.output, e.outputPartitioning,
          session, if (st == null) Array.fill(n)(0L) else st.bytesByPartitionId,
          observed))
      case _ => None
    }
  }

  /** How many tasks a stage over `n` hash buckets holding `bytes` runs:
    * the smallest divisor g of n with g ≥ min(n, defaultParallelism) and
    * bytes / g ≤ `spark.sql.adaptive.advisoryPartitionSizeInBytes` — the
    * inputs AQE's `CoalesceShufflePartitions` sizes a stage by — else n;
    * n as well when adaptive partition coalescing is off. Only a stage
    * smaller than advisory size × parallelism gets fewer than n tasks,
    * so a task's input stays bounded by the advisory size. */
  def bucketGroupCount(session: org.apache.spark.sql.SparkSession, n: Int,
      bytes: Long): Int = {
    val conf = session.asInstanceOf[SparkSession].sessionState.conf
    if (!conf.adaptiveExecutionEnabled ||
        !conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) n
    else {
      val least = math.min(n, session.sparkContext.defaultParallelism)
      val target = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      (least to n).find(g => n % g == 0 && bytes.toDouble / g <= target)
        .getOrElse(n)
    }
  }

  /** `df` — a scan of a bucketed relation, under at most projections —
    * read as `g` bucket groups (g | the bucket count): task i reads the
    * files of the buckets b ≡ i (mod g) (`optionalNumCoalescedBuckets`,
    * the scan's own grouping), and the frame declares the scan's
    * `HashPartitioning(bucket columns, g)`. The scan is planned once,
    * here, and keeps its bucketed read: standalone,
    * `DisableUnnecessaryBucketedScan` would un-bucket it. Its size stays
    * unknown to the planner, so a join over it never broadcasts it.
    * `df` itself when its plan holds no bucketed scan (an empty
    * relation). */
  def bucketGroups(df: DataFrame, g: Int): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val session = ds.sparkSession
    val plan = QueryExecution.prepareExecutedPlan(session,
        ds.queryExecution.sparkPlan).transform {
      case s: FileSourceScanExec if s.relation.bucketSpec.isDefined =>
        s.copy(disableBucketedScan = false, optionalNumCoalescedBuckets =
          Some(g).filter(_ < s.relation.bucketSpec.get.numBuckets))
    }
    plan.outputPartitioning match {
      case p: HashPartitioning if p.numPartitions == g =>
        rows(session, plan.output, plan.execute(), p, plan.outputOrdering)
      case _ => df
    }
  }

  /** `rdd`'s n partitions as `g` (g | n): group i holds the partitions
    * p ≡ i (mod g), in one task. Exact for a hash-partitioned RDD, since
    * pmod(h, n) mod g = pmod(h, g) when g divides n. */
  private def modGroups(rdd: RDD[InternalRow], g: Int): RDD[InternalRow] =
    if (g == rdd.getNumPartitions) rdd
    else rdd.coalesce(g, shuffle = false, Some(new ModCoalescer))

  private final class ModCoalescer extends PartitionCoalescer
      with Serializable {
    override def coalesce(g: Int, parent: RDD[_]): Array[PartitionGroup] = {
      val groups = Array.fill(g)(new PartitionGroup())
      parent.partitions.foreach(p => groups(p.index % g).partitions += p)
      groups
    }
  }

  /** A frame over an executed plan's rows that declares the plan's
    * partitioning and ordering. */
  private def rows(session: SparkSession, output: Seq[Attribute],
      rdd: RDD[InternalRow], partitioning: Partitioning,
      ordering: Seq[SortOrder]): DataFrame =
    Dataset.ofRows(session,
      LogicalRDD(output, rdd, partitioning, ordering, isStreaming = false)(
        session))

  /** Catalyst predicate → v1 `sources.Filter` (`protected[sql]` in
    * DataSourceStrategy): lets the DML strategy ask the same question
    * Spark's DeleteFromTableExec will — does the keyed metadata path
    * serve this DELETE — before claiming the row-level rewrite. */
  def translateFilter(e: Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)
}

/** The marker the engine checks to accept `OutputMode.Update` on a v2
  * streaming sink that applies updates as upserts (exactly the manifest
  * sink's key-matched MERGE semantics). The trait is Scala-`private[sql]`
  * (public bytecode), so this shim re-exports it from the sql package —
  * the same packaging pattern Delta Lake uses for its sink. */
trait UpdateAsAppendWriteBuilder
  extends org.apache.spark.sql.internal.connector
    .SupportsStreamingUpdateAsAppend
