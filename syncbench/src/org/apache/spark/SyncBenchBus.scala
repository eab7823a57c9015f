package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the trace recorder drains the bus at every span boundary so each
  * listener event is charged to the span whose call caused it. */
object SyncBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
