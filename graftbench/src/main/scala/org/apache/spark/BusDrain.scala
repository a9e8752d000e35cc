package org.apache.spark

/** Waits until the listener bus has delivered every event posted so
  * far, so a traced operation's job, stage, task and query events are
  * all recorded before its spans are read. The bus is package-private
  * to Spark; this one call is the only reason the file lives here. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
