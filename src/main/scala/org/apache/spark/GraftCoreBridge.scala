package org.apache.spark

import org.apache.spark.memory.TaskMemoryManager

/** Bridge into `private[spark]` core internals: graft's physical
  * operators register their memory with Spark's unified memory manager
  * (the same TaskMemoryManager every built-in spillable exec accounts
  * through), and listener readers wait for the bus to drain. Same
  * one-file-in-spark's-namespace technique as
  * `org.apache.spark.sql.GraftSqlBridge`. */
object GraftCoreBridge {
  def taskMemoryManager(tc: TaskContext): TaskMemoryManager =
    tc.taskMemoryManager()

  /** Blocks until every event posted so far has reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
