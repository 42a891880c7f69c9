package graft

import org.apache.spark.sql.functions._
import graft.ops.{Normalize, TimeOps}

/** Tagged-union payload normalization (P12-P16, raw_data_reformat.py). */
class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  private val T = ts("2024-01-01 00:00:00")

  private def raw(kind: String, data: String) = ("j1", T, kind, data)

  test("normalizeMeasurements: scalar kinds, bp, activity, multi measure") {
    val df = Seq(
      raw("hr", "[72]"),
      raw("st", "36.5"), // bare scalar, defensive P13 path
      raw("bp", "[118, 76]"),
      raw("activity", "[4021, 180, 95, 60, 12]"),
      raw("multi measure", "[70, 97, [117, 75], 36.4]"),
      raw("spo2", "not json"), // neither JSON nor a number: null data
      raw("hr current", null),
      raw("mystery", "[3.5]"), // unknown kinds pass through as scalars
      raw(null, "[5]"), // null kind: dropped
      raw("ppg", "[1024, 1040]"), // waveforms never become measurements
      raw("acx", "[0.1, 0.2, 0.3, 0.4, 0.5]")
    ).toDF("jname", "date_time", "kind", "data")
    val rows = Normalize.normalizeMeasurements(df).collect()
    assert(rows.forall(r => r.getAs[String]("jname") == "j1" &&
      r.getAs[java.sql.Timestamp]("date_time") == T))
    val got = rows.map(r => r.getAs[String]("kind") ->
      Option(r.getAs[java.lang.Double]("data")).map(_.doubleValue)).toMap
    assert(got("hr").contains(72.0))
    assert(got("st").contains(36.5))
    assert(got("bp_sys").contains(118.0) && got("bp_dia").contains(76.0))
    assert(got("step").contains(4021.0) && got("Calories").contains(180.0) &&
      got("sleep_light").contains(95.0) && got("sleep_deep").contains(60.0) &&
      got("awake").contains(12.0))
    assert(got("mm_hr").contains(70.0) && got("mm_spo2").contains(97.0) &&
      got("mm_bp_sys").contains(117.0) && got("mm_bp_dia").contains(75.0) &&
      got("mm_st").contains(36.4))
    assert(got("spo2").isEmpty && got("hr current").isEmpty)
    assert(got("mystery").contains(3.5))
    assert(got.size == 17 && rows.length == 17)
  }

  test("normalizeMeasurements: short payloads yield null data, not a failed job") {
    def normalized(r: (String, java.sql.Timestamp, String, String)) =
      Normalize.normalizeMeasurements(
          Seq(r).toDF("jname", "date_time", "kind", "data"))
        .collect().map(r => r.getAs[String]("kind") ->
          Option(r.getAs[java.lang.Double]("data")).map(_.doubleValue)).toSeq
    // a payload shorter than its kind's field list pads with nulls
    assert(normalized(raw("bp", "[118]")) ==
      Seq("bp_sys" -> Some(118.0), "bp_dia" -> None))
    assert(normalized(raw("activity", "[4021, 180, 95]")) == Seq(
      "step" -> Some(4021.0), "Calories" -> Some(180.0),
      "sleep_light" -> Some(95.0), "sleep_deep" -> None, "awake" -> None))
    assert(normalized(raw("bp", "[]")) ==
      Seq("bp_sys" -> None, "bp_dia" -> None))
    // an empty scalar payload is one null row
    assert(normalized(raw("hr", "[]")) == Seq("hr" -> None))
    // a multi measure missing its nested pair and temperature
    assert(normalized(raw("multi measure", "[70, 97]")) == Seq(
      "mm_hr" -> Some(70.0), "mm_spo2" -> Some(97.0),
      "mm_bp_sys" -> None, "mm_bp_dia" -> None, "mm_st" -> None))
    // ... or with a one-element pair
    assert(normalized(raw("multi measure", "[70, 97, [117]]")) == Seq(
      "mm_hr" -> Some(70.0), "mm_spo2" -> Some(97.0),
      "mm_bp_sys" -> Some(117.0), "mm_bp_dia" -> None, "mm_st" -> None))
  }

  test("waveforms keeps array payload for ppg/acc kinds") {
    val df = Seq(raw("ppg", "[1024, 1040]"), raw("hr", "[70]"))
      .toDF("jname", "date_time", "kind", "data")
    val got = Normalize.waveforms(df, Seq("ppg")).collect()
    assert(got.length == 1)
    assert(got(0).getAs[scala.collection.Seq[Double]]("data").toSeq == Seq(1024.0, 1040.0))
  }

  test("parseListString parses python-list literals (P17)") {
    val df = Seq("[0.1, -0.2, 0.0, 0.3, 0.1]").toDF("data")
    val got = Normalize.parseListString(df, "data").head()
      .getAs[scala.collection.Seq[Double]]("data").toSeq
    assert(got == Seq(0.1, -0.2, 0.0, 0.3, 0.1))
  }

  test("meltComputed renames headers, melts, parses durations (S3)") {
    val df = Seq(("2024-01-01 08:00:00", "72", "7h23m", ""))
      .toDF("Time", "Heart rate", "Sleep duration", "Steps")
    val got = Normalize.meltComputed(df)
      .select("kind", "data").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("hr" -> 72.0, "sleep_total" -> 443.0)) // empty dropped
  }

  test("P8: convertDateTime derives timestamp/date/time-of-day from epoch ms") {
    val df = Seq((1704067200123L, "hr")).toDF("time", "kind")
    val r = TimeOps.convertDateTime(df).head()
    assert(r.getAs[java.sql.Timestamp]("date_time").toString
      == "2024-01-01 00:00:00.123")
    assert(r.getAs[java.sql.Date]("date").toString == "2024-01-01")
    assert(r.getAs[String]("time_of_day") == "00:00:00.123000")
  }

  test("Q11: convertDateTime zone flag reproduces machine-local goldens") {
    // the reference converts with datetime.fromtimestamp — machine-local
    // wall time (raw_data_reformat.py:58-65). 2024-01-01 00:00:00.123 UTC
    // on a Los Angeles machine renders as 2023-12-31 16:00:00.123 (PST,
    // UTC-8); the zone flag must reproduce that wall clock byte-for-byte.
    val df = Seq((1704067200123L, "hr")).toDF("time", "kind")
    val r = TimeOps.convertDateTime(df, zone = "America/Los_Angeles").head()
    assert(r.getAs[java.sql.Timestamp]("date_time").toString
      == "2023-12-31 16:00:00.123")
    assert(r.getAs[java.sql.Date]("date").toString == "2023-12-31")
    assert(r.getAs[String]("time_of_day") == "16:00:00.123000")
    // DST side: a July instant renders at UTC-7
    val summer = Seq((1721994123456L, "hr")).toDF("time", "kind") // 2024-07-26 11:42:03.456 UTC
    val s = TimeOps.convertDateTime(summer, zone = "America/Los_Angeles").head()
    assert(s.getAs[String]("time_of_day") == "04:42:03.456000")
  }
}
