package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
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
