package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run
  * drains it before it reads its counters, so each count lands on the
  * call that caused it. `waitUntilEmpty` is Spark-private, hence the
  * package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
