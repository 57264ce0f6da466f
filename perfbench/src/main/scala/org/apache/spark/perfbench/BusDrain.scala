package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event already posted to the listener bus has been
  * delivered. Listener callbacks run asynchronously, so a counter read right
  * after an action can miss that action's task-end events; every read or
  * reset of the benchmark's counters goes through here first. Lives under
  * `org.apache.spark` because `listenerBus` is package-private. */
object BusDrain {
  def drain(sc: SparkContext): Unit =
    if (!sc.isStopped) sc.listenerBus.waitUntilEmpty()
}
