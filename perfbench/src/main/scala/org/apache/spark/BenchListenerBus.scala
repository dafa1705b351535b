package org.apache.spark

/** Benchmark-side shim: Spark delivers listener events asynchronously,
  * and the only way to wait for delivery is package-private. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
