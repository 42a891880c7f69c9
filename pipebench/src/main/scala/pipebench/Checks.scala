package pipebench

/** Output checks against planted truth. Each returns the violations it
  * found; an empty result means the output is correct. They run on rows
  * collected from the written outputs, outside the timed region. */
object Checks {

  final case class Row(kind: String, tsMs: Long, data: Double)
  final case class Interval(startMs: Long, endMs: Long, category: String)

  /** Filtered measurements: no hr row inside a planted >20-sample
    * flatline, no vital outside `Filters.VitalRanges`, and the vitals the
    * filter has no reason to drop are still there. */
  def filtered(rows: Seq[Row], truth: SubjectTruth,
               ranges: Map[String, (Double, Double)]): Seq[String] = {
    val flat = rows.filter(r => r.kind == "hr" &&
      truth.flatlines.exists(_.contains(r.tsMs)))
    val outside = rows.filter(r => ranges.get(r.kind).exists {
      case (lo, hi) => !(r.data >= lo && r.data <= hi) && !r.data.isNaN
    })
    val kept = rows.count(_.kind == "hr")
    Seq(
      flat.headOption.map(r =>
        s"${truth.name}: ${flat.size} hr rows kept inside a flatline, first at ${r.tsMs}"),
      outside.headOption.map(r =>
        s"${truth.name}: ${outside.size} vitals kept out of range, first ${r.kind}=${r.data}"),
      if (kept == 0) Some(s"${truth.name}: no hr rows kept") else None
    ).flatten
  }

  private def coveredMs(ivs: Seq[Interval], w: Win): Long = {
    // union of the intervals clipped to w; intervals are disjoint when
    // the disjointness check passes, so clipping and summing is exact
    ivs.map(i => math.max(0L, math.min(i.endMs, w.endMs) -
      math.max(i.startMs, w.startMs))).sum
  }

  /** Timeline: intervals are disjoint (touching allowed), every planted
    * night is at least 90 % `sleep`, every planted vigorous window is
    * fully `high active`, and sleep outside the nights stays under 5 % of
    * their length. */
  def timeline(ivs: Seq[Interval], truth: SubjectTruth): Seq[String] = {
    val sorted = ivs.sortBy(i => (i.startMs, i.endMs))
    val overlaps = sorted.zip(sorted.drop(1)).filter { case (a, b) =>
      b.startMs < a.endMs }
    val sleep = sorted.filter(_.category == "sleep")
    val high = sorted.filter(_.category == "high active")
    val nightMs = truth.nights.map(_.lengthMs).sum
    val sleepInNights = truth.nights.map(n => coveredMs(sleep, n)).sum
    val sleepTotal = sleep.map(i => i.endMs - i.startMs).sum
    Seq(
      overlaps.headOption.map { case (a, b) =>
        s"${truth.name}: ${overlaps.size} overlapping timeline intervals, first $a / $b" },
      truth.nights.find(n => coveredMs(sleep, n) < 0.9 * n.lengthMs).map(n =>
        s"${truth.name}: night $n only ${coveredMs(sleep, n) / 60000} min sleep"),
      truth.vigorous.find(v => coveredMs(high, v) < v.lengthMs).map(v =>
        s"${truth.name}: vigorous $v only ${coveredMs(high, v) / 60000} min high active"),
      if (sleepTotal - sleepInNights > 0.05 * nightMs)
        Some(s"${truth.name}: ${(sleepTotal - sleepInNights) / 60000} min sleep outside the nights")
      else None
    ).flatten
  }

  /** Curated corpus: exactly one doc of each planted duplicate group, no
    * planted low-quality, non-English or test-overlapping doc, and every
    * clean doc kept. */
  def curated(ids: Seq[Long], truth: Gen.CorpusTruth): Seq[String] = {
    val kept = ids.toSet
    val groups = truth.dupGroups.filter(g => (g intersect kept).size != 1)
    val leaked = truth.dropped.toSeq.sortBy(_._1).flatMap { case (why, s) =>
      val k = s intersect kept
      if (k.nonEmpty) Some(s"${k.size} $why docs kept, e.g. ${k.min}") else None
    }
    val lost = truth.clean -- kept
    val expected = truth.clean ++ truth.dupGroups.flatten
    Seq(
      groups.headOption.map(g =>
        s"${groups.size} duplicate groups not kept exactly once, e.g. ${g.toSeq.sorted}"),
      lost.headOption.map(id => s"${lost.size} clean docs dropped, e.g. $id"),
      (kept -- expected -- truth.dropped.values.flatten).headOption.map(id =>
        s"unknown doc id $id in the output"),
      if (ids.size != kept.size) Some("a doc id is kept twice") else None
    ).flatten ++ leaked
  }

  /** Feeds deliberately corrupted copies of a correct output to the
    * checks; each corruption must be caught. Returns the corruptions that
    * were not. */
  def selfTestSensor(rows: Seq[Row], ivs: Seq[Interval],
                     truth: SubjectTruth,
                     ranges: Map[String, (Double, Double)]): Seq[String] = {
    val f = truth.flatlines.head
    val (rk, (lo, _)) = ranges.toSeq.minBy(_._1)
    val night = truth.nights.head
    val vig = truth.vigorous.head
    val cases = Seq(
      "a flatline hr row kept" -> (
        rows :+ Row("hr", (f.startMs + f.endMs) / 2, 77.0), ivs),
      s"an out-of-range $rk kept" -> (
        rows :+ Row(rk, night.startMs - 1000, lo - 1), ivs),
      "two timeline intervals overlapping" -> (
        rows, ivs :+ Interval(vig.startMs - 60000, vig.startMs + 60000, "rest")),
      "the night labelled rest" -> (
        rows, ivs.map(i => if (i.category == "sleep") i.copy(category = "rest") else i)),
      "the vigorous window labelled low active" -> (
        rows, ivs.map(i => if (i.category == "high active")
          i.copy(category = "low active") else i))
    )
    cases.collect { case (what, (r, i))
      if filtered(r, truth, ranges).isEmpty && timeline(i, truth).isEmpty => what }
  }

  def selfTestCurated(ids: Seq[Long], truth: Gen.CorpusTruth): Seq[String] = {
    val kept = ids.toSet
    val extraDup = truth.dupGroups.head.find(id => !kept(id)).toSeq
    val cases = Seq(
      "a second member of a duplicate group kept" -> (ids ++ extraDup),
      "a test-overlapping doc kept" -> (ids :+ truth.dropped("test_overlap").head),
      "a low-quality doc kept" -> (ids :+ truth.dropped("low_quality").head),
      "a clean doc dropped" -> ids.filterNot(_ == truth.clean.min))
    cases.collect { case (what, c) if curated(c, truth).isEmpty => what }
  }
}
