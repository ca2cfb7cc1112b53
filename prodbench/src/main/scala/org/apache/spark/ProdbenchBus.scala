package org.apache.spark

/** Lets the benchmark's tracer wait until every listener event posted so
  * far has been delivered. Lives in Spark's package because the bus
  * accessor is package-private.
  */
object ProdbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
