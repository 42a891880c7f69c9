package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequential/window operators (SURVEY.md §2.5, W1-W7). All are expressed
  * as Spark window functions partitioned by a subject key so no global
  * single-task sort exists at scale (SURVEY.md §4 risk note). */
object Windows {

  private def w(partitionCols: Seq[String], orderCols: Seq[String]) =
    Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)

  /** W1: dedup-consecutive — keep change points
    * (`extract_kind`, /root/reference/activity_categorize.py:68-72). */
  def dedupConsecutive(df: DataFrame, valueCol: String,
                       partitionCols: Seq[String],
                       orderCols: Seq[String]): DataFrame = {
    val prev = lag(col(valueCol), 1).over(w(partitionCols, orderCols))
    df.withColumn("_prev", prev)
      .filter(col("_prev").isNull || col(valueCol) =!= col("_prev"))
      .drop("_prev")
  }

  /** SCD2 dimension-history builder: turn a change log (key, ts, value)
    * into type-2 validity intervals — collapse consecutive repeats of the
    * same value per key ([[dedupConsecutive]]), then `valid_from` = the
    * change timestamp and `valid_to` = the NEXT change's timestamp (NULL
    * for the current version, the open interval). The warehouse-standard
    * dimension shape that [[graft.ops.AsOf]] point-in-time joins read.
    * One window pass over data already partitioned by key — same
    * key-partitioned posture as every window op here; no join, no second
    * shuffle (the lag filter and the lead share one sort). */
  def scd2(df: DataFrame, keyCols: Seq[String], tsCol: String,
           valueCol: String): DataFrame = {
    val changes = dedupConsecutive(df
        .select((keyCols :+ tsCol :+ valueCol).map(col): _*),
      valueCol, keyCols, Seq(tsCol))
    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to",
        lead(col(tsCol), 1).over(w(keyCols, Seq(tsCol))))
      .drop(tsCol)
  }

  /** W2: cumulative-counter → sleep intervals
    * (`preliminary_intervals`, /root/reference/activity_categorize.py:74-90).
    * Semantics (incl. quirk Q5):
    *  - gap to previous row > `resetGapHours` ⇒ timer reset: prev counter
    *    treated as 0;
    *  - minutes = counter − prev when counter increased, else counter
    *    (numpy `where=` aliasing keeps the unmodified original);
    *  - interval = [ts − minutes, ts].
    */
  /** W2 core: the per-row counter delta (column `mins`), exposing quirk Q5
    * semantics; [[counterIntervals]] turns it into intervals. */
  def counterDelta(df: DataFrame, tsCol: String, counterCol: String,
                   partitionCols: Seq[String],
                   orderCols: Seq[String] = Nil,
                   resetGapHours: Int = 12): DataFrame = {
    val ord = if (orderCols.nonEmpty) orderCols else Seq(tsCol)
    val win = w(partitionCols, ord)
    val prevTs = lag(col(tsCol), 1).over(win)
    val prevRaw = lag(col(counterCol), 1).over(win)
    val gapReset = prevTs.isNull ||
      (unix_micros(col(tsCol)) - unix_micros(prevTs)) >
        lit(resetGapHours * 3600L * 1000000L)
    val prev = when(gapReset, lit(0.0)).otherwise(prevRaw)
    val minutes = when(col(counterCol) > prev, col(counterCol) - prev)
      .otherwise(col(counterCol))
    df.withColumn("mins", minutes)
  }

  def counterIntervals(df: DataFrame, tsCol: String, counterCol: String,
                       partitionCols: Seq[String],
                       resetGapHours: Int = 12): DataFrame =
    counterDelta(df, tsCol, counterCol, partitionCols,
      resetGapHours = resetGapHours)
      .withColumn("start_time",
        col(tsCol) - TimeOps.minutesInterval(col("mins").cast("long")))
      .withColumn("end_time", col(tsCol))
      .drop("mins")

  /** W3: merge overlapping intervals
    * (`merge_intervals`, /root/reference/activity_categorize.py:92-102).
    * Touching endpoints merge (J2: `check_overlap` counts touching as
    * overlap, activity_categorize.py:145-149). Cumulative-max island:
    * a new island starts where start > max(end) over all preceding rows. */
  def mergeIntervals(df: DataFrame,
                     partitionCols: Seq[String] = Nil): DataFrame = {
    val part = partitionCols.map(col)
    val ord = Window.partitionBy(part: _*)
      .orderBy(col("start_time"), col("end_time"))
    val prevMaxEnd = max(col("end_time"))
      .over(ord.rowsBetween(Window.unboundedPreceding, -1))
    val newIsland = when(
      prevMaxEnd.isNull || col("start_time") > prevMaxEnd, 1).otherwise(0)
    df.withColumn("_new", newIsland)
      .withColumn("_island", sum(col("_new"))
        .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(part :+ col("_island"): _*)
      .agg(min(col("start_time")).as("start_time"),
        max(col("end_time")).as("end_time"))
      .drop("_island")
  }

  /** W4: merge adjacent same-category windows — contiguous (next.start ==
    * cur.end) AND same category
    * (`merge_windows`, activity_categorize.py:194-207).
    *
    * One change-point pass over one sort by (start_time, end_time) per
    * `partitionCols` key, with no aggregate shuffle: a row opens a run
    * unless it starts where the previous row ends and has its category
    * (null categories compare equal); the run's first row takes the end
    * of its last row. Windows are expected well-formed (start ≤ end),
    * as binned categories are. Returns (partitionCols..., category,
    * start_time, end_time). */
  def mergeAdjacentWindows(df: DataFrame,
                           partitionCols: Seq[String] = Nil): DataFrame = {
    val part = partitionCols.map(col)
    val ord = Window.partitionBy(part: _*)
      .orderBy(col("start_time"), col("end_time"))
    val prevEnd = lag(col("end_time"), 1).over(ord)
    val opens = prevEnd.isNull || col("start_time") =!= prevEnd ||
      !(col("category") <=> lag(col("category"), 1).over(ord))
    // every window below shares `ord`, so the sort runs once
    df.withColumn("_open", coalesce(opens, lit(true)))
      .withColumn("_close",
        coalesce(lead(col("_open"), 1).over(ord), lit(true)))
      .filter(col("_open") || col("_close"))
      .withColumn("_end", when(col("_close"), col("end_time"))
        .otherwise(lead(col("end_time"), 1).over(ord)))
      .filter(col("_open"))
      .select(part ++ Seq(col("category"), col("start_time"),
        col("_end").as("end_time")): _*)
  }

  /** W5: session id on time gap — gap > `gapSeconds` starts a new session
    * (/root/reference/acc_reformat.py:121-125). */
  def sessionize(df: DataFrame, tsCol: String, partitionCols: Seq[String],
                 gapSeconds: Double = 1.0): DataFrame = {
    val win = w(partitionCols, Seq(tsCol))
    val gapUs = (unix_micros(col(tsCol)) -
      unix_micros(lag(col(tsCol), 1).over(win)))
    val newSession =
      when(gapUs.isNull || gapUs > lit((gapSeconds * 1e6).toLong), 1)
        .otherwise(0)
    df.withColumn("session_id",
      sum(newSession).over(
        w(partitionCols, Seq(tsCol))
          .rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** W7: step-increase events → trailing intervals [ts − windowMinutes, ts]
    * (/root/reference/activity_categorize.py:298-301). */
  def trailingIntervals(df: DataFrame, tsCol: String, valueCol: String,
                        windowMinutes: Int = 10,
                        keepCols: Seq[String] = Nil,
                        threshold: Double = 0.0): DataFrame =
    df.filter(col(valueCol) > threshold)
      .select(keepCols.map(col) ++ Seq(
        (col(tsCol) - TimeOps.minutesInterval(lit(windowMinutes)))
          .as("start_time"),
        col(tsCol).as("end_time")): _*)

  /** Top-k rows per group (curation staple: best-k documents per domain,
    * latest-k events per user). One hash-partitioned window; no global
    * sort. Order columns must make ranks deterministic (include a
    * tiebreaker id). Adds `rk` (1-based). */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[String],
                   orderCols: Seq[Column], k: Int): DataFrame =
    df.withColumn("rk", row_number().over(
        Window.partitionBy(partitionCols.map(col): _*)
          .orderBy(orderCols: _*)))
      .filter(col("rk") <= k)

  /** Equal-frequency quantile discretizer: `ntile(buckets)` per group over
    * a deterministic order (pass a tiebreaker — ntile on a non-unique
    * order is engine-dependent). The standard feature-binning step before
    * histogramming / monotonic-feature training; SQL-standard remainder
    * semantics (first `n mod buckets` tiles get the extra row), so any
    * engine agrees exactly. One hash-partitioned window — per-group data
    * fits a task by the partitioning argument used for every W-row; when
    * one group dominates, use [[quantileBucketsByCutpoints]] (map-side
    * binning, no per-group sort) or let [[quantileBucketsAuto]] route.
    * Adds `bucket` (1-based). */
  def quantileBuckets(df: DataFrame, partitionCols: Seq[String],
                      orderCols: Seq[Column], buckets: Int): DataFrame = {
    require(buckets > 0)
    df.withColumn("bucket", ntile(buckets).over(
      Window.partitionBy(partitionCols.map(col): _*)
        .orderBy(orderCols: _*)))
  }

  /** Giant-group quantile binning: per-group percentile cut-points (one
    * partial-aggregated pass — `percentile` exact when `accuracy` is 0,
    * `percentile_approx` otherwise) broadcast back, then a MAP-SIDE bin
    * lookup. No window, no per-group sort: a 100 TB group that would
    * serialize into one window task costs one aggregation plus a map.
    *
    * Semantics are value-based (left-closed: a row lands in bucket i+1
    * iff exactly i cut-points are < value), so on distinct values with
    * group sizes divisible by `buckets` it reproduces `ntile`; massively
    * tied values all land in one bucket where ntile would split them —
    * the standard cut-point trade-off, spec'd. Adds `bucket` (1-based). */
  def quantileBucketsByCutpoints(df: DataFrame, partitionCols: Seq[String],
                                 valueCol: String, buckets: Int,
                                 accuracy: Int = 0): DataFrame = {
    require(buckets > 0)
    // one bucket needs no cut-points — and percentile over an EMPTY
    // probability array returns a null row, so short-circuit
    if (buckets == 1) return df.withColumn("bucket", lit(1))
    val probs = array((1 until buckets)
      .map(i => lit(i.toDouble / buckets)): _*)
    val v = col(valueCol).cast("double")
    val cpAgg = (if (accuracy > 0) percentile_approx(v, probs, lit(accuracy))
                 else percentile(v, probs)).as("cuts")
    val cuts =
      if (partitionCols.isEmpty) df.agg(cpAgg)
      else df.groupBy(partitionCols.map(col): _*).agg(cpAgg)
    val joined =
      if (partitionCols.isEmpty) df.crossJoin(broadcast(cuts))
      else df.join(broadcast(cuts), partitionCols)
    joined
      .withColumn("bucket",
        (size(filter(col("cuts"), c => c < v)) + 1))
      .drop("cuts")
  }

  /** Routed quantile discretizer: probes the largest group size (one
    * cheap partial-aggregated count — the AQE-style runtime stat this
    * decision needs) and picks the window path for normal groups or the
    * cut-point path when a group exceeds `maxWindowGroupRows` (the
    * one-giant-group 100 TB degenerate case, where a per-group window
    * sort serializes into a single task). `orderCols` should order by
    * `valueCol` first plus a tiebreaker; it is used by the window path
    * only. */
  def quantileBucketsAuto(df: DataFrame, partitionCols: Seq[String],
                          valueCol: String, orderCols: Seq[Column],
                          buckets: Int,
                          maxWindowGroupRows: Long = 50000000L,
                          accuracy: Int = 10000): DataFrame = {
    val maxGroup: Long =
      if (partitionCols.isEmpty) df.count()
      else {
        val r = df.groupBy(partitionCols.map(col): _*).count()
          .agg(max("count")).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
    if (maxGroup > maxWindowGroupRows)
      quantileBucketsByCutpoints(df, partitionCols, valueCol, buckets,
        accuracy)
    else quantileBuckets(df, partitionCols, orderCols, buckets)
  }
}
