package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block launches. Job starts reach listeners
  * asynchronously, so the count is read only once the listener bus has
  * delivered every event posted so far; the bus is private to Spark,
  * hence this package.
  */
object JobCounter {
  def during[T](sc: SparkContext)(body: => T): (T, Int) = {
    sc.listenerBus.waitUntilEmpty(60000L)
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty(60000L)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }
}
