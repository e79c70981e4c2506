package org.apache.spark

/** The listener bus delivers events asynchronously; the span recorder reads
  * its aggregates only after every event posted so far has been delivered.
  * `waitUntilEmpty` is package-private to Spark, hence this one-line bridge. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
