package org.apache.spark.sql.graft

import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{CollectMetricsExec, LogicalRDD,
  QueryExecution}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

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

  /** A frame exchanged ONCE, its map stage already run: `frame` reads
    * the materialized shuffle and declares its `HashPartitioning`, so an
    * aggregate or a join on the same keys over it plans no further
    * Exchange; `bytes(p)` is partition p's shuffle size (0 iff p holds
    * no row); `observed` holds the metric row of each named `observe`
    * in the exchanged plan. */
  final case class Exchanged(
      frame: DataFrame, bytes: Array[Long], observed: Map[String, Row])

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
    val ds = df.repartition(n, keys: _*)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val session = ds.sparkSession
    QueryExecution.prepareExecutedPlan(session, ds.queryExecution.sparkPlan)
    match {
      case e: ShuffleExchangeExec if e.outputPartitioning.numPartitions == n =>
        val st = org.apache.spark.util.ThreadUtils.awaitResult(
          e.submitShuffleJob(), Duration.Inf)
        val observed = e.collect {
          case c: CollectMetricsExec => c.name -> c.collectedMetrics }.toMap
        val rel = LogicalRDD(e.output, e.execute(), e.outputPartitioning,
          Nil, isStreaming = false)(session)
        Some(Exchanged(org.apache.spark.sql.classic.Dataset.ofRows(session,
            rel),
          if (st == null) Array.fill(n)(0L) else st.bytesByPartitionId,
          observed))
      case _ => None
    }
  }

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
