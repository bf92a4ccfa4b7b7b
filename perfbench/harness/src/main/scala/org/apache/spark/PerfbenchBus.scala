package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  * Listener delivery is asynchronous; the traced run reads its counters
  * only after this returns, so no job, task or query-execution event of
  * the measured work is still in flight. (`listenerBus` is Spark-private,
  * hence this one accessor in Spark's package.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
