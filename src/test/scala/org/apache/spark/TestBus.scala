package org.apache.spark

/** Test-side shim over Spark's private listener bus: `SparkContext
  * .listenerBus` is `private[spark]`, so only code in this package can wait
  * until every posted event has reached its listeners before a spec reads
  * their counts. */
object TestBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
