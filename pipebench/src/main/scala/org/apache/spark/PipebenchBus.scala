package org.apache.spark

/** Listener-bus drain for the benchmark harness. Task and job events
  * reach listeners asynchronously; the harness reads its counters only
  * after every event posted so far has been delivered, so a pass's
  * task CPU never leaks into the next pass. The bus is package-private
  * to Spark, hence this one-line shim in Spark's package. */
object PipebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
