package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event,
  * so the benchmark's listeners have seen all jobs, tasks and stream
  * progress of the run before it reads them. The bus is private to
  * Spark; this is the one call the benchmark needs from it.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
