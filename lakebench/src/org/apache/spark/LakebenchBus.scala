package org.apache.spark

/** Waits until the Spark listener bus has delivered every queued event,
  * so a trace read after the last call sees all of that call's jobs and
  * tasks. The bus is package-private to Spark, hence this package. */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
