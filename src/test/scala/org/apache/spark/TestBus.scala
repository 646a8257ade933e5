package org.apache.spark

/** The listener bus's drain is package-private to Spark; specs need it
  * so listener counts are complete before they are read. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
