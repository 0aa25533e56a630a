package org.apache.spark.sql

private[spark] object GraftbenchSqlAccess {
  def unloadStateStores(): Unit = execution.streaming.state.StateStore.unloadAll()
}
