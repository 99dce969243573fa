package org.apache.spark

/** The one `private[spark]` call the benchmark's tracer needs: block until
  * every listener event posted so far has been delivered, so a row's jobs,
  * tasks and streaming progress are all counted before its spans close. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
