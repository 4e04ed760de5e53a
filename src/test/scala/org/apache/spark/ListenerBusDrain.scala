package org.apache.spark

/** Listener-bus drain for specs that read `SparkListener` totals: task
  * and job events reach listeners asynchronously, so a spec drains the
  * bus before it reads them. The bus is package-private to Spark, hence
  * this shim in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
