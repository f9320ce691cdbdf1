package org.apache.spark

/** The listener bus's drain is private to Spark; the benchmark's stage
  * metrics need it to read complete per-job task totals.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
