package org.apache.spark

/** The benchmark's one reach into Spark internals: wait until every
  * listener event posted so far has been delivered, so per-layer counts
  * read at the end of a run are complete.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
