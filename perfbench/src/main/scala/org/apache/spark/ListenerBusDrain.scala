package org.apache.spark

/** Wait until every event posted so far has reached the listeners, so a
  * traced run reads complete task and streaming-progress records. The
  * listener bus is package-private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
