package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Predicates, range clamps, flatline detection (SURVEY.md §2.2 P1-P6,
  * §2.4 A5, §2.3 J1). */
object Filters {

  /** Physiological ranges (/root/reference/filtering_data.py:202-205,75):
    * kind → (min, max). Max defaults to 1e6. */
  val VitalRanges: Map[String, (Double, Double)] = Map(
    "hr" -> (50.0, 1e6),
    "bp_dia" -> (60.0, 1e6),
    "bp_sys" -> (80.0, 1e6),
    "spo2" -> (80.0, 1e6),
    "st" -> (30.0, 1e6)
  )

  /** P3: band predicate with optional NaN-keep
    * (`subset_df`, /root/reference/filtering_data.py:75-85). */
  def bandPredicate(c: Column, lo: Double, hi: Double,
                    keepNaN: Boolean = true): Column = {
    val band = c.between(lo, hi)
    if (keepNaN) band || isnan(c) else band
  }

  /** P4: partition-replace — clamp one kind's slice, splice back
    * (/root/reference/filtering_data.py:81-83). For many kinds the scalable
    * form is a single `when`-cascade over one scan, not k unions: */
  def clampKinds(df: DataFrame,
                 ranges: Map[String, (Double, Double)],
                 kindCol: String = "kind", valueCol: String = "data",
                 keepNaN: Boolean = true): DataFrame = {
    val inRange = ranges.toSeq.sortBy(_._1)
      .foldLeft(lit(true)) { case (acc, (k, (lo, hi))) =>
        acc && (col(kindCol) =!= k ||
          bandPredicate(col(valueCol), lo, hi, keepNaN))
      }
    df.filter(inRange)
  }

  /** A5: run-length flatline detection → include/exclude intervals
    * (`t_incl`, /root/reference/filtering_data.py:88-111). Runs of > 20
    * identical consecutive values are excluded. Gaps-and-islands:
    * island = rn − rn-per-value; runs partitioned by `partitionCols` so the
    * sort is per-group, not global (100 TB posture — the reference is
    * implicitly single-subject).
    *
    * Returns (partitionCols..., start_time, end_time, n, include).
    */
  def flatlineIntervals(df: DataFrame, tsCol: String, valueCol: String,
                        partitionCols: Seq[String] = Nil,
                        maxRun: Int = 20): DataFrame = {
    val part = partitionCols.map(col)
    val wAll = Window.partitionBy(part: _*).orderBy(col(tsCol))
    val wVal = Window.partitionBy(part :+ col(valueCol): _*)
      .orderBy(col(tsCol))
    df.withColumn("_island",
        row_number().over(wAll) - row_number().over(wVal))
      .groupBy(part :+ col(valueCol) :+ col("_island"): _*)
      .agg(min(col(tsCol)).as("start_time"),
        max(col(tsCol)).as("end_time"),
        count(lit(1)).as("n"))
      .withColumn("include", col("n") <= maxRun)
      .drop("_island")
  }

  /** J1: point-in-interval semi-join — keep fact rows whose timestamp falls
    * inside any interval (`df_filter`, /root/reference/filtering_data.py:114-124;
    * boundaries inclusive both ends, quirk Q9). The interval side is tiny →
    * broadcast; Spark plans BroadcastNestedLoopJoin for the non-equi
    * condition, or a BroadcastHashJoin on `keys` when given: a fact row then
    * matches only the intervals of its own key (its subject). */
  def pointInInterval(fact: DataFrame, intervals: DataFrame,
                      tsCol: String = "date_time",
                      keys: Seq[String] = Nil): DataFrame = {
    val iv = keyed(intervals, keys)
    fact.join(broadcast(iv),
      sameKeys(fact, keys) && fact(tsCol) >= iv("start_time") &&
        fact(tsCol) <= iv("end_time"),
      "left_semi")
  }

  /** The interval side of a keyed point-in-interval join, its keys renamed
    * apart from the fact side's (the two often share lineage). */
  private def keyed(intervals: DataFrame, keys: Seq[String]): DataFrame =
    keys.foldLeft(intervals)((d, k) => d.withColumnRenamed(k, s"_piv_$k"))

  private def sameKeys(fact: DataFrame, keys: Seq[String]): Column =
    keys.map(k => fact(k) === col(s"_piv_$k")).foldLeft(lit(true))(_ && _)

  /** J1 at scale: binned point-in-interval semi-join. Same semantics as
    * [[pointInInterval]] (boundaries inclusive both ends) but the join is
    * an EQUI-join on a coarse time bucket — each interval explodes into
    * the buckets it overlaps, each fact row maps to one bucket, and the
    * exact range predicate filters within the bucket match. Spark plans a
    * hash-partitioned SortMergeJoin/ShuffledHashJoin instead of
    * BroadcastNestedLoopJoin, so the interval side may be arbitrarily
    * large (broadcast would OOM past ~tens of MB, and a nested-loop scan
    * is O(facts × intervals) regardless).
    *
    * Choose `binWidthSec` near the p99 interval length: wider bins mean
    * fewer replica rows per interval but more false bucket matches to
    * filter; an interval spanning B bins contributes B rows to the
    * exploded side. Intervals with `end_time < start_time` match nothing
    * and are dropped before the explode (a negative-range `sequence`
    * would error). With `keys` the equi-join key is (keys, bucket). */
  def pointInIntervalBinned(fact: DataFrame, intervals: DataFrame,
                            tsCol: String = "date_time",
                            binWidthSec: Long = 3600L,
                            keys: Seq[String] = Nil): DataFrame = {
    require(binWidthSec > 0)
    val wUs = binWidthSec * 1000000L
    def binOf(c: Column): Column = floor(unix_micros(c.cast("timestamp")) / wUs)
    val iv = keyed(intervals, keys)
      .filter(col("end_time") >= col("start_time"))
      .select(keys.map(k => col(s"_piv_$k")) ++ Seq(col("start_time"),
        col("end_time"),
        explode(sequence(binOf(col("start_time")), binOf(col("end_time"))))
          .as("_pib_bin")): _*)
    val binned = fact.withColumn("_pib_bin", binOf(col(tsCol)))
    binned.join(iv,
        sameKeys(binned, keys) && binned("_pib_bin") === iv("_pib_bin") &&
          binned(tsCol) >= iv("start_time") &&
          binned(tsCol) <= iv("end_time"),
        "left_semi")
      .drop("_pib_bin")
  }
}
