package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus, so that every job a
  * traced call started has reached the benchmark's listener before the
  * counts are read. The bus is private to Spark's own package.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
