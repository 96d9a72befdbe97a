package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously; a test reads what a
  * listener recorded only after every posted event has arrived.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
