package org.apache.spark

/** Drains Spark's listener bus so that listener events of the last
  * action are delivered before the traced op that caused them closes.
  * The bus is asynchronous and its drain call is package-private, hence
  * this one-line shim.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
