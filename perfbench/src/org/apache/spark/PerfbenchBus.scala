package org.apache.spark

/** The listener bus delivers events asynchronously; the traced benchmark
  * waits for it to drain at each op boundary so every job, task and query
  * event of an op is counted before the next op starts. The bus is
  * package-private, hence this accessor. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
