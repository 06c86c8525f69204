package org.apache.spark

/** Access to the one package-private hook the benchmark needs: waiting for
  * the listener bus to drain, so job and query events of an operation are
  * counted before the next one starts. */
object BenchShims {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
