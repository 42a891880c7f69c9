package graft

/** Local replica of the driver's t1 smoke: SparkEntry.entry rows > 0 at
  * sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("graft-smoke", cpus = 4)
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
