package org.apache.spark

/** Drains Spark's asynchronous listener bus, so every event of the jobs
  * that already ran has reached the benchmark's listeners before their
  * counters are read. The bus is package-private, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
