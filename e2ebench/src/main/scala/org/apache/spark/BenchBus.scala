package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so counters read after an action include that action.
  * The bus is private to Spark; this accessor is the only reason the
  * benchmark has a file in this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
