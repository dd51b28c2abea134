package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  *
  * The listener bus is asynchronous; the harness reads its listeners'
  * totals only after this returns, so no task, query or stream-progress
  * event of a pass can land in the next one.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
