package org.apache.spark

/** The listener bus is asynchronous; a traced reading taken right after
  * an action must wait until every event of that action was delivered.
  * `waitUntilEmpty` is package-private, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
