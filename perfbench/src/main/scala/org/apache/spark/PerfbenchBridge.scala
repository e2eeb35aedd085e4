package org.apache.spark

/** Package-private access the benchmark needs, exposed through a small shim
  * in the `org.apache.spark` package (the same pattern as the library's
  * `GraftColumnBridge`). `listenerBus` is `private[spark]`; draining it makes
  * every task/job event of the jobs run so far visible to the benchmark's
  * listener before a metric is read, without a fixed sleep.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
