package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval algebra (SURVEY.md §2.3 J2/J3, §2.5 W3/W4).
  *
  * The reference's two-pointer generator sweep
  * (`subtract_intervals`, /root/reference/activity_categorize.py:104-143) is
  * inherently sequential; the engine re-expresses it as one labelled
  * boundary-event sweep (SURVEY.md §2.8 G2), fully relational and
  * partitioned by subject key:
  *
  *  - one scan per input: each interval row emits both of its endpoint
  *    events (+1 at start, −1 at end, per coverage counter) through
  *    `inline(array(struct…, struct…))`. A union of two selects of the same
  *    frame would reference it twice, doubling its plan at every nesting
  *    level;
  *  - coverage is a running `sum` over a RANGE frame ordered by time, so all
  *    events at one instant land in one frame and no collapse aggregate is
  *    needed; one row per distinct instant survives (`t < next_t`);
  *  - each segment (t, next_t) gets a label from its coverage counts; runs
  *    of touching segments with the same label merge at their change
  *    points, in windows over the sweep's own partitioning and order (no
  *    further shuffle).
  *
  * Subtract and intersect are 2-counter calls of [[sweep]]; the pipeline's
  * timeline is one 3-counter call.
  */
object Intervals {

  /** J2: overlap predicate — touching endpoints count as overlap
    * (`check_overlap`, /root/reference/activity_categorize.py:145-149). */
  def overlaps(aStart: Column, aEnd: Column,
               bStart: Column, bEnd: Column): Column =
    aStart <= bEnd && bStart <= aEnd

  /** J3: base \ sub on closed base intervals (subtracted region treated as
    * open, so clipped remainders keep their touching endpoints — matches the
    * reference's clipping at activity_categorize.py:125-134). Degenerate
    * [a,a] segments are dropped (quirk Q8 cleanup) and empty inputs are
    * handled (Q8 crash fixed). Output intervals are merged/disjoint.
    *
    * Both inputs: (partitionCols..., start_time, end_time).
    */
  def subtractIntervals(base: DataFrame, sub: DataFrame,
                        partitionCols: Seq[String] = Nil): DataFrame =
    twoCounter(base, sub, partitionCols)((b, s) => b > 0 && s === 0)

  /** Interval intersection base ∩ sub via the same sweep (engine extension —
    * the reference composes it from two subtracts). */
  def intersectIntervals(base: DataFrame, sub: DataFrame,
                         partitionCols: Seq[String] = Nil): DataFrame =
    twoCounter(base, sub, partitionCols)((b, s) => b > 0 && s > 0)

  private def twoCounter(base: DataFrame, sub: DataFrame,
                         partitionCols: Seq[String])
                        (keep: (Column, Column) => Column): DataFrame = {
    def tagged(df: DataFrame, fromBase: Boolean): DataFrame =
      df.select(partitionCols.map(col) :+ col("start_time") :+
        col("end_time") :+ lit(fromBase).as("_base"): _*)
    val isBase = col("_base")
    sweep(tagged(base, fromBase = true).union(tagged(sub, fromBase = false)),
      partitionCols, Seq(isBase, !isBase),
      { case Seq(b, s) => when(keep(b, s), lit(true)) })
      .drop("label")
  }

  /** The labelled boundary sweep. Counter i covers a segment once for every
    * row of `intervals` (partitionCols..., start_time, end_time, ...) that
    * spans it and satisfies `counters(i)` (a null predicate counts as
    * false). `label` maps the counters' coverage of a segment to its label;
    * a null label drops the segment. Touching segments with equal labels
    * merge, so the output (partitionCols..., start_time, end_time, label)
    * holds disjoint maximal runs, with touching runs only where the label
    * changes.
    */
  def sweep(intervals: DataFrame, partitionCols: Seq[String],
            counters: Seq[Column], label: Seq[Column] => Column): DataFrame = {
    val part = partitionCols.map(col)
    val n = counters.indices
    def event(t: String, sign: Int): Column =
      struct(col(t).as("_t") +: n.map(i =>
        when(counters(i), sign).otherwise(0).as(s"_d$i")): _*)
    val events = intervals.select(part :+
      inline(array(event("start_time", 1), event("end_time", -1))): _*)

    val ord = Window.partitionBy(part: _*).orderBy(col("_t"))
    val upTo = ord.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val t = col("_t")
    val next = lead(t, 1).over(ord)
    val covered = events
      .select(part ++ Seq(t, next.as("_next")) ++
        n.map(i => sum(col(s"_d$i")).over(upTo).as(s"_c$i")): _*)
      // the events of one instant share one RANGE frame; only the last of
      // them sees a later instant next
      .filter(col("_next").isNull || t < col("_next"))
      .select(part ++ Seq(t, when(col("_next").isNotNull,
        label(n.map(i => col(s"_c$i")))).as("label")): _*)

    // keep the instants where the label changes: each opens a run that the
    // next change point closes
    covered
      .withColumn("_prev", lag(col("label"), 1).over(ord))
      .filter(!(col("label") <=> col("_prev")))
      .select(part ++ Seq(t.as("start_time"), next.as("end_time"),
        col("label")): _*)
      .filter(col("label").isNotNull)
  }
}
