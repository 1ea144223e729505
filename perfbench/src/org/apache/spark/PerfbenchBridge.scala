package org.apache.spark

/** The one package-private Spark call the benchmark needs: block until
  * every posted listener event has been delivered, so per-operation
  * attribution never races the asynchronous listener bus. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
