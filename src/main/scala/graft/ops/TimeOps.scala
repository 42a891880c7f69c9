package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Time projections (SURVEY.md §2.2, P7-P10, P19). All pure column
  * expressions — whole-stage-codegen friendly, no UDFs. */
object TimeOps {

  /** Clock-offset rounding quantum: 15 minutes in ms
    * (/root/reference/raw_data_reformat.py:47). */
  val OffsetQuantumMs = 900000L

  /** P7: derive the watch-clock offset from a reference epoch-ms instant:
    * round((refMs − min(time)) / 15min) · 15min
    * (/root/reference/raw_data_reformat.py:39-56). One global min-agg; the
    * scalar comes back to the driver (it is genuinely a scalar — the
    * reference wrote it to `timestamp_diff.txt`, quirk Q3; we return it).
    * Requires at least one record with a non-null `time`. */
  def deriveClockOffsetMs(raw: DataFrame, refEpochMs: Long): Long = {
    val row = raw.agg(min(col("time"))).head()
    require(!row.isNullAt(0),
      "cannot derive a clock offset: the input has no record with a time")
    val minTime = row.getLong(0)
    Math.round((refEpochMs - minTime).toDouble / OffsetQuantumMs) *
      OffsetQuantumMs
  }

  /** P7 apply + P8: epoch-ms (+offset) → timestamp, plus derived date and
    * time-of-day (/root/reference/raw_data_reformat.py:39-65).
    *
    * The reference converts with `datetime.fromtimestamp`, i.e. in
    * MACHINE-LOCAL time (quirk Q11); engine semantics default to UTC. Pass
    * `zone` (an IANA id, e.g. "America/Los_Angeles") to reproduce the
    * reference's wall-clock output for goldens produced in another TZ:
    * the rendered date_time/date/time_of_day then match
    * `datetime.fromtimestamp` on a machine in that zone. (As in the
    * reference, the zone is then baked into the wall-clock values — this
    * is a compat mode, not instant-preserving arithmetic.) */
  def convertDateTime(df: DataFrame, offsetMs: Long = 0L,
                      zone: String = "UTC"): DataFrame = {
    val base = timestamp_millis(col("time") + lit(offsetMs))
    val local =
      if (zone == "UTC") base else from_utc_timestamp(base, zone)
    df.withColumn("date_time", local)
      .withColumn("date", to_date(col("date_time")))
      .withColumn("time_of_day",
        date_format(col("date_time"), "HH:mm:ss.SSSSSS"))
      .drop("time")
  }

  /** P9: seconds-of-day with fractional part
    * (/root/reference/acc_reformat.py:74-76). */
  def secondsOfDay(ts: Column): Column =
    (unix_micros(ts) % lit(86400000000L)).cast("double") / lit(1e6)

  /** P10: integer bin by flooring, default 300 s
    * (/root/reference/acc_reformat.py:77,44). */
  def secondsBin(seconds: Column, binSize: Int = 300): Column =
    floor(seconds / lit(binSize.toDouble)).cast("int")

  /** Tumbling bin on a timestamp: floor(epoch / width) — the scalable form
    * of the reference's per-bin groupby (activity_categorize.py:164-182).
    * Quirk Q1: the reference multiplies by literal 5 regardless of width;
    * we implement the intended `floor(t/width)·width` and keep the default
    * width at 5 minutes so outputs match. */
  def timeBucket(ts: Column, widthSeconds: Long): Column =
    timestamp_seconds(
      floor(unix_micros(ts) / lit(widthSeconds * 1000000L)) *
        lit(widthSeconds))

  /** OHLC bar aggregation — downsample a value stream into per-bucket
    * open/high/low/close/count bars (the time-series complement of
    * [[graft.ops.AsOf.resampleFfill]]: aggregate within the grid cell
    * instead of carrying the last point onto it). Open/close are
    * min_by/max_by over the (ts, tiebreaker) struct — one map-side-
    * combined aggregation keyed on (keys, bucket), no window, no sort. */
  def ohlcBars(df: DataFrame, keys: Seq[String], tsCol: String,
               valueCol: String, bucketSeconds: Long,
               tieCol: String): DataFrame = {
    val ord = struct(col(tsCol), col(tieCol))
    df.groupBy((keys.map(col) :+
        timeBucket(col(tsCol), bucketSeconds).as("bucket_ts")): _*)
      .agg(min_by(col(valueCol), ord).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), ord).as("close"),
        count(lit(1)).as("n"))
  }

  /** Minutes → calendar interval (make_interval is positional-only). */
  def minutesInterval(m: Column): Column =
    make_interval(lit(0), lit(0), lit(0), lit(0), lit(0), m)

  /** P19: `"7h23m"` → 443 minutes (/root/reference/raw_data_reformat.py:183-185). */
  def durationToMinutes(s: Column): Column =
    regexp_extract(s, "(\\d+)h", 1).cast("int") * lit(60) +
      regexp_extract(s, "(\\d+)m", 1).cast("int")
}
