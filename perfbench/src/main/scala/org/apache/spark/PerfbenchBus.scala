package org.apache.spark

/** Drains Spark's listener bus. `waitUntilEmpty` is package-private to
  * Spark; this helper lives in Spark's package so the benchmark's
  * telemetry can wait for every event of a finished step instead of
  * sleeping for a guessed interval. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
