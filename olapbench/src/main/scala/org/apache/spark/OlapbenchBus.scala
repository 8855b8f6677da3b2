package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so per-operation job counts are complete before they are
  * read. The listener bus is package-private to Spark, hence the
  * package of this file.
  */
object OlapbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
