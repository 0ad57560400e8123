package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps
  * package-private: wait until every posted listener event is delivered. */
object SparkBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
