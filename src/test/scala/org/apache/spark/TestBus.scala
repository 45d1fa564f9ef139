package org.apache.spark

/** Access to the listener bus, which is private to Spark: a test that
  * counts jobs reads its listener only after every event of the counted
  * calls has been delivered.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
