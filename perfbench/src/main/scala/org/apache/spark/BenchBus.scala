package org.apache.spark

/** The one Spark-internal call the benchmark makes: wait until every
  * event posted so far has reached the listeners, so counters read
  * after a traced call include that call's jobs and query executions. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
