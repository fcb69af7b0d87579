package org.apache.spark

/** Access to the SparkContext's listener bus, which Spark keeps package-private:
  * the benchmark's tracer waits for queued events before it closes a span. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
