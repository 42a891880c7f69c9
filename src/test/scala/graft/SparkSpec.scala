package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession). */
object TestSession {
  lazy val spark: SparkSession = Sessions.local("graft-test", cpus = 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** Collect every row as its string form, sorted. */
  def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Collect (start_time, end_time) pairs sorted. */
  def intervalsOf(df: DataFrame): Seq[(String, String)] =
    df.select("start_time", "end_time").collect()
      .map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString))
      .sorted.toSeq
}
