package org.apache.spark

/** Lets the benchmark wait until its listener has seen every event posted
  * so far, so counters read after an action include that action's tasks.
  */
object GraftBenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
