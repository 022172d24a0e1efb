package org.apache.spark

/** Reaches the one scheduler call the benchmark needs that Spark keeps
  * package-private: waiting until every posted listener event has been
  * delivered, so a span closes only after its jobs' events are in. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
