package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a spec can read what a listener saw right after an action. Lives in
  * Spark's package because the bus accessor is package-private.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
