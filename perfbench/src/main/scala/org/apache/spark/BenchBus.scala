package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads
  * its listener's totals only after every event posted so far has been
  * delivered. `waitUntilEmpty` is Spark-internal, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
