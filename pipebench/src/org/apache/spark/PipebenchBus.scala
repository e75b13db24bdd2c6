package org.apache.spark

/** Waits until every listener has seen every event posted so far, so a
  * measurement taken right after a job includes that job's events. The
  * live listener bus is package-private to Spark, hence this package.
  */
object PipebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
