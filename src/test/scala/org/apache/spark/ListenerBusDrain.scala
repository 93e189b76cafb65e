package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a spec's listener counts are complete when read. The bus is
  * package-private to Spark.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
