package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is Spark-private: the benchmark waits on it so the
  * ledger has seen every job, stage and task before it is read. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
