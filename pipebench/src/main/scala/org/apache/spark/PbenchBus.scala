package org.apache.spark

/** Lets the benchmark wait for the listener bus to empty, so counters read
  * at the end of a run include every event posted during it. The method it
  * calls is package-private to Spark.
  */
object PbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
