package org.apache.spark

/** Bridge into `private[spark]` core internals: listener readers wait
  * for the bus to drain. Same one-file-in-spark's-namespace technique
  * as `org.apache.spark.sql.GraftSqlBridge`. */
object GraftCoreBridge {
  /** Blocks until every event posted so far has reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
