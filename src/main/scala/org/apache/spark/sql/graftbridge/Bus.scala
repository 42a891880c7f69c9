package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Spark delivers listener events on its own thread: whatever counts jobs
  * or stages (a spec, `graft.Dev profile`) reads its listener only after
  * every event has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
