package org.apache.spark.pipebench

import org.apache.spark.SparkContext

/** Spark delivers listener events on its own thread. A traced stage reads
  * its counters only after every event it caused has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
