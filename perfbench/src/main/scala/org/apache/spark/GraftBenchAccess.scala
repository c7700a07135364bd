package org.apache.spark

/** The one Spark-internal call the benchmark harness needs: block until
  * every event posted so far has reached the listeners, so a pass's job,
  * stage and task records are complete before they are read. */
object GraftBenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
