package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits on it so
  * every task-end event of an op is counted before the op's figures
  * are read. */
object PaperbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
