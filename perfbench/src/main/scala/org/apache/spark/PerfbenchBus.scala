package org.apache.spark

/** Access to the listener bus, which is private to Spark: the trace must
  * read its collector only after every event of the traced calls has been
  * delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
