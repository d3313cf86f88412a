package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

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
