package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column construction — the standard OSS
  * extension-library pattern (spark-daria, frameless, delta all ship a
  * file under `org.apache.spark.sql` for exactly this): it lets graft wrap
  * a custom catalyst [[Expression]] into a public [[Column]] without
  * routing through a session's function registry, so the custom operators
  * work on any session, registered or not.
  */
object GraftSql {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `private[sql]` analysis-time type contracts re-exported so graft's
    * expressions can declare `ExpectsInputTypes.inputTypes` (misuse of a
    * SQL-registered graft function then fails at analysis with a typed
    * error instead of a runtime ClassCastException). */
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType
  def typeCollection(types: AbstractDataType*): AbstractDataType =
    org.apache.spark.sql.types.TypeCollection(types: _*)

  /** Whether `df`'s plan is registered in the session CacheManager —
    * the registry that silently serves any later canonically-equal
    * build. Re-exported (the lookup needs the `classic` Dataset type)
    * so tests can pin that operators release their internal caches. */
  def isCacheRegistered(df: org.apache.spark.sql.DataFrame): Boolean = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds).isDefined
  }

  /** Block until every queued listener event has been delivered —
    * `private[spark]`, re-exported so `graft.core.QueryMetrics` can
    * read listener-accumulated counters deterministically after a job
    * instead of sleeping and hoping the bus drained. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The QueryExecution an ended SQL execution ran — `private[sql]` on
    * the event, re-exported so `graft.core.QueryMetrics` can read each
    * execution's final plan. None on events without one. */
  def executionOf(e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
      : Option[org.apache.spark.sql.execution.QueryExecution] = Option(e.qe)

  /** The DataFrame without its trailing global Sort, if any. Catalog
    * queries end in `orderBy` purely so the driver's oracle hash is
    * order-stable; the benchmark measures the computation, not that
    * presentation sort, so Bench strips it before timing. */
  def stripTrailingSort(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.queryExecution.logical match {
      case org.apache.spark.sql.catalyst.plans.logical.Sort(_, true, child, _) =>
        org.apache.spark.sql.classic.Dataset.ofRows(
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], child)
      case _ => df
    }
}
