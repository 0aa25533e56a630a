package org.apache.spark.sql

import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery

/** Minimal `private[sql]` bridge. The one graft class outside the graft
  * package; used by `graft.plans` and the streaming drains. */
object GraftSqlBridge {

  /** A DataFrame over a custom or foreign LogicalPlan in `spark` — the
    * standard library technique (`Dataset.ofRows` is sql-private). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A Column over a Catalyst expression, and back. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A clone of `spark` over the same SparkContext, with its own SQLConf,
    * temp views and StreamingQueryManager: the session Spark's
    * StreamExecution takes at every query start. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** The session `q`'s StreamExecution cloned for its run. */
  def runSession(q: StreamingQuery): SparkSession =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.sparkSessionForStream

  /** Detach a finished session's StreamingQueryManager from the shared
    * SparkContext. The manager adds its listener bus to the context's
    * event bus when it is created and nothing removes it, so every
    * short-lived session that ran a query would leave one behind, fed
    * every Spark event for the rest of the JVM. */
  def detachStreams(spark: SparkSession): Unit = {
    val bus = classOf[classic.StreamingQueryManager].getDeclaredField("listenerBus")
    bus.setAccessible(true)
    spark.sparkContext.removeSparkListener(
      bus.get(spark.streams).asInstanceOf[SparkListenerInterface])
  }
}
