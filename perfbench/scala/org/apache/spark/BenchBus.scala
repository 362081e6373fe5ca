package org.apache.spark

/** Benchmark-local shim over Spark's private listener bus.
  *
  * `SparkContext.listenerBus` is `private[spark]`; living in this package lets
  * the benchmark wait until every posted event (job, stage and SQL execution
  * ends, query-execution callbacks) has reached its listeners before it reads
  * their counts, instead of sleeping and hoping the bus caught up. */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
