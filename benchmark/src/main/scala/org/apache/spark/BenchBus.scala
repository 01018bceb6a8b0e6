package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * traced call's jobs, stages and plan phases are attributed before the
  * next call starts. The listener bus is private to Spark, hence the
  * package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
