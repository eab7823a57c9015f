package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps
  * package-private: [[graft.tools.Prof]] drains the bus after each
  * timed action, so every task-end event of that action is counted
  * before its counters are read — no sleep, no tail-stage loss. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
