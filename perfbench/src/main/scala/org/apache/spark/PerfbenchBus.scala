package org.apache.spark

/** Waits until every event already posted to the context's listener bus has
  * been delivered, so a traced entry's job, task and plan events are all
  * attributed before the next entry starts. The bus is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
