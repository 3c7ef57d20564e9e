package org.apache.spark

/** The listener bus is asynchronous; the traced run waits for it to
  * deliver every event of an op before attributing them. The wait is
  * Spark-private, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
