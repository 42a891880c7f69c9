package graft

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs that library ops fire while a frame is built. */
object Jobs {
  private val DescriptionKey = "spark.job.description"

  /** Runs `body` with the job description "`op`: `phase`", so every job
    * it fires from this thread is listed under that name instead of its
    * call site. The caller's description is restored afterwards. */
  def withJobDescription[T](spark: SparkSession, op: String, phase: String)
                           (body: => T): T = {
    val sc = spark.sparkContext
    val callers = sc.getLocalProperty(DescriptionKey)
    sc.setLocalProperty(DescriptionKey, s"$op: $phase")
    try body
    finally sc.setLocalProperty(DescriptionKey, callers)
  }
}
