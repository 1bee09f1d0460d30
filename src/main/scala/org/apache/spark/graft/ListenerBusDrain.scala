package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge into `SparkContext.listenerBus` (package-private to
  * `org.apache.spark`). `perfbench`'s driver (`perfbench/Main.scala`),
  * `MemoryBudgetSpec` and `PublishSpec` drain the async listener bus
  * with it before reading listener counters, so task-end events land
  * in the measurement that produced them; a fixed sleep lets
  * straggling events bleed into the next one on a loaded machine.
  * `waitUntilEmpty` blocks until every queued event has been
  * dispatched to every listener.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
