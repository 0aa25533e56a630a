package org.apache.spark

/** Reaches the scheduler and state-store hooks the benchmark needs that
  * Spark keeps package-private. */
object GraftbenchAccess {
  /** Waits until the listener bus is empty, so that counters read at the
    * end of a unit include every event of it. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Unloads every state store provider of this JVM. */
  def unloadStateStores(): Unit = sql.GraftbenchSqlAccess.unloadStateStores()
}
