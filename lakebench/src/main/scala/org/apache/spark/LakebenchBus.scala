package org.apache.spark

/** The listener bus is private to Spark; the tracer drains it before it
  * closes a span so every event of the span's jobs has been delivered. */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
