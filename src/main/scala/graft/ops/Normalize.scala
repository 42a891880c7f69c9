package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Payload normalization: the tagged-union `data` column → tall
  * (kind, data: double) rows (SURVEY.md §2.2, P12-P16, §1.2).
  *
  * The reference does this with four kind-sliced pandas transforms glued by
  * concat (/root/reference/raw_data_reformat.py:67-148). Here it is one
  * projection over one scan: a single kind switch maps every raw row to its
  * array of (kind, data) rows, and `inline` unpivots that array.
  */
object Normalize {

  /** Waveform kinds (P1 family, raw_data_reformat.py:76-80 in the reference):
    * they keep their array payload ([[waveforms]]) and yield no measurement
    * rows. */
  val PpgKinds = Seq("ppg")
  val AccKinds = Seq("acx", "acy", "acz")

  /** activity payload field names, positional
    * (/root/reference/raw_data_reformat.py:125-135). */
  val ActivityFields = Seq("step", "Calories", "sleep_light", "sleep_deep",
    "awake")

  private val arr = ArrayType(DoubleType)

  /** Parse the raw JSON-string payload per kind and unpivot it to the tall
    * (kind, data) shape. Any kind other than bp, activity, multi measure and
    * the waveforms (hr, hr current, st, spo2, or one the reference never
    * names) passes through with its scalar payload (the normalize step is
    * total — SURVEY.md §7.4-4): a payload too short for its kind's fields
    * (`[]`, a one-element bp) yields null data for the missing fields
    * rather than failing. Rows with a null kind are dropped.
    *
    * Input: (jname, date_time, kind, data: STRING-json). Output: measurement
    * rows (jname, date_time, kind, data: DOUBLE).
    */
  def normalizeMeasurements(df: DataFrame): DataFrame = {
    val kind = col("kind")
    val parsed = from_json(col("data"), arr)
    // positions past a short payload's end read null (`get`, not ANSI
    // indexing, which would fail the whole job)
    def at(a: Column, i: Int): Column = get(a, lit(i))
    def rows(values: (String, Column)*): Column =
      array(values.map { case (k, v) =>
        struct(lit(k).as("kind"), v.as("data"))
      }: _*)
    // multi measure: nested [hr, spo2, [sys, dia], st] (P16). The nested
    // element defeats ARRAY<DOUBLE>; re-parse as ARRAY<STRING> and parse the
    // inner pair separately.
    val mmArr = from_json(col("data"), ArrayType(StringType))
    val mmInner = from_json(at(mmArr, 2), arr)
    val perKind =
      when(kind.isNull || kind.isin(PpgKinds ++ AccKinds: _*), rows())
        // bp → bp_sys, bp_dia (P14)
        .when(kind === "bp", rows("bp_sys" -> at(parsed, 0),
          "bp_dia" -> at(parsed, 1)))
        // activity → 5 named values (P15)
        .when(kind === "activity", rows(ActivityFields.zipWithIndex
          .map { case (f, i) => f -> at(parsed, i) }: _*))
        .when(kind === "multi measure", rows(
          "mm_hr" -> at(mmArr, 0).cast(DoubleType),
          "mm_spo2" -> at(mmArr, 1).cast(DoubleType),
          "mm_bp_sys" -> at(mmInner, 0),
          "mm_bp_dia" -> at(mmInner, 1),
          "mm_st" -> at(mmArr, 3).cast(DoubleType)))
        // defensive scalar extraction, P13: `x[0] if list else x`
        .otherwise(array(struct(kind.as("kind"),
          coalesce(at(parsed, 0), expr("try_cast(data AS DOUBLE)"))
            .as("data"))))
    df.select(col("jname"), col("date_time"), inline(perKind))
  }

  /** ppg / acc split (P1 family, /root/reference/raw_data_reformat.py:76-80):
    * waveform kinds keep their array payload. */
  def waveforms(df: DataFrame, kinds: Seq[String]): DataFrame =
    df.filter(col("kind").isin(kinds: _*))
      .withColumn("data", from_json(col("data"), arr))

  /** P17: Python-list-literal string → array
    * (/root/reference/acc_reformat.py:66). `[0.1, 0.2]` is valid JSON. */
  def parseListString(df: DataFrame, column: String): DataFrame =
    df.withColumn(column, from_json(col(column), arr))

  /** S3: the reference's `feature_rename` header map, verbatim
    * (/root/reference/raw_data_reformat.py:153-162) — applied by
    * [[graft.io.Xlsx.loadComputed]] before melting, exactly as
    * `load_excel` does. `Body temperature (F)` is deliberately absent:
    * unrenamed, it survives the melt and is dropped by kind (:175). */
  val FeatureRenames: Map[String, String] = Map(
    "Heart rate (bpm)" -> "hr",
    "Diastolic (mmHg)" -> "bp_dia",
    "Systolic (mmHg)" -> "bp_sys",
    "SaO2 (%)" -> "spo2",
    "Body temperature (C)" -> "st",
    "Pedometer" -> "step",
    "Total sleep" -> "sleep_total",
    "Deep sleep" -> "sleep_deep",
    "Light sleep" -> "sleep_light",
    "Event Markers" -> "Event_markers"
  )

  /** P21 + S3 tail: header rename map for the pre-converted CSV/parquet
    * workbook stand-in (long descriptive headers; see FIXTURES.md §5).
    * Native xlsx ingest uses [[FeatureRenames]] instead
    * (/root/reference/raw_data_reformat.py:153-167). */
  val ExcelRenames: Map[String, String] = Map(
    "Heart rate" -> "hr",
    "Blood oxygen" -> "spo2",
    "Systolic blood pressure" -> "bp_sys",
    "Diastolic blood pressure" -> "bp_dia",
    "Body temperature" -> "st",
    "Steps" -> "step",
    "Calories" -> "Calories",
    "Sleep duration" -> "sleep_total",
    "Event markers" -> "Event_markers",
    "Time" -> "Time"
  )

  /** S3: wide computed-workbook table → tall, parsing "XhYm" durations and
    * dropping empty values (/root/reference/raw_data_reformat.py:151-181).
    * Input is the CSV/parquet equivalent of the workbook (xlsx itself is out
    * of engine scope — SURVEY.md §7.4-6). */
  def meltComputed(df: DataFrame): DataFrame = {
    val renamed = ExcelRenames.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }
    val valueCols = renamed.columns.filterNot(_ == "Time")
      .filterNot(_ == "Body temperature (F)")
    val tall = renamed
      .select(col("Time").as("date_time") +:
        valueCols.map(c => col(c).cast(StringType).as(c)): _*)
      .unpivot(Array(col("date_time")), valueCols.map(col), "kind", "data")
      .filter(col("data").isNotNull && col("data") =!= "")
    tall.withColumn("data",
      when(col("kind") === "sleep_total",
        TimeOps.durationToMinutes(col("data")).cast(DoubleType))
        .otherwise(col("data").cast(DoubleType)))
  }
}
