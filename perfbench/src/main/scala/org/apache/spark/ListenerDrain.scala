package org.apache.spark

/** Blocks until every listener event posted so far has been delivered.
  * The listener bus is asynchronous; the traced run reads its counters
  * only after this, so an operation's jobs and tasks are never
  * attributed to the next one. Lives in Spark's package because the bus
  * is package-private.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
