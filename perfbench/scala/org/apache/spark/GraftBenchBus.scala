package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is `private[spark]`, so this one call lives in
  * Spark's package; the benchmark uses it to read job, stage and task
  * counts only after the operation that produced them has been fully
  * reported. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
