package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus to drain,
  * so job and task events of an op are counted before the op's numbers
  * are read. The bus is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
