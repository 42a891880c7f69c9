package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Spark delivers listener events on its own thread: a test that counts
  * stages reads its listener only after every event has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
