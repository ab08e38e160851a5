package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark
  * needs it to close an op's event stream before it reads the op's
  * counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
