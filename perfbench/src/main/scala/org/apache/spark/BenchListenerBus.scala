package org.apache.spark

/** Drains the asynchronous listener bus, so that the benchmark's listeners
  * have seen every event of the work that has finished. The bus is
  * package-private in Spark, hence this file's package.
  */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
