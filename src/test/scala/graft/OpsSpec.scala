package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.ops._

/** Core operator semantics, quirk-dense cases first (SURVEY.md §2.12). */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- TimeOps -----------------------------------------------------------

  test("Q1: timeBucket floors by the given width, not a hardcoded 5") {
    val df = Seq("2024-01-01 00:13:59", "2024-01-01 00:14:00")
      .map(ts).toDF("t")
    val got = df.select(TimeOps.timeBucket(col("t"), 120L).cast("string"))
      .as[String].collect().toSeq
    // 2-minute buckets (epoch-aligned): 13:59 → 00:12:00, 14:00 → 00:14:00
    assert(got == Seq("2024-01-01 00:12:00", "2024-01-01 00:14:00"))
  }

  test("P19: durationToMinutes parses XhYm") {
    val got = Seq("7h23m", "0h5m", "12h0m").toDF("s")
      .select(TimeOps.durationToMinutes(col("s"))).as[Int].collect().toSeq
    assert(got == Seq(443, 5, 720))
  }

  test("P7: clock offset rounds to 15-minute quantum") {
    val raw = Seq(1000000L, 2000000L).toDF("time")
    // ref − min = 1 800 000 ms = 2 quanta exactly
    assert(TimeOps.deriveClockOffsetMs(raw, 2800000L) == 1800000L)
    // 1 000 000 ms ≈ 1.11 quanta → rounds to 1
    assert(TimeOps.deriveClockOffsetMs(raw, 2000000L) == 900000L)
  }

  test("P7: clock offset of an input without times names the problem") {
    for (raw <- Seq(Seq.empty[Long].toDF("time"),
                    Seq(Option.empty[Long]).toDF("time"))) {
      val e = intercept[IllegalArgumentException](
        TimeOps.deriveClockOffsetMs(raw, 2800000L))
      assert(e.getMessage.contains("no record with a time"))
    }
  }

  // ---- Filters -----------------------------------------------------------

  test("P3: band predicate keeps NaN when asked") {
    val df = Seq(49.0, 50.0, 100.0, Double.NaN).toDF("data")
    assert(df.filter(Filters.bandPredicate(col("data"), 50, 1e6)).count == 3)
    assert(df.filter(Filters.bandPredicate(col("data"), 50, 1e6,
      keepNaN = false)).count == 2)
  }

  test("A5: flatline islands — run of exactly maxRun is kept, maxRun+1 excluded") {
    // 21 identical hr values → exclude; 20 identical → include (threshold
    // is STRICTLY more than 20, filtering_data.py:100)
    def run(n: Int, v: Double, t0: Int) =
      (0 until n).map(i => (ts(f"2024-01-01 00:${t0 + i}%02d:00"), v))
    val rows = run(21, 60.0, 0) ++ run(3, 61.0, 21) // 21-flat then 3 normal
    val df = rows.toDF("ts", "v")
    val got = Filters.flatlineIntervals(df, "ts", "v", Nil, maxRun = 20)
      .orderBy("start_time").collect()
    assert(got.length == 2)
    assert(!got(0).getAs[Boolean]("include") && got(0).getAs[Long]("n") == 21)
    assert(got(1).getAs[Boolean]("include") && got(1).getAs[Long]("n") == 3)

    val df20 = run(20, 60.0, 0).toDF("ts", "v")
    val got20 = Filters.flatlineIntervals(df20, "ts", "v", Nil, maxRun = 20)
      .collect()
    assert(got20.length == 1 && got20(0).getAs[Boolean]("include"))
  }

  test("J1: point-in-interval join is inclusive on both ends (Q9)") {
    val facts = Seq(ts("2024-01-01 00:00:00"), ts("2024-01-01 00:05:00"),
      ts("2024-01-01 00:10:00"), ts("2024-01-01 00:10:01")).toDF("date_time")
    val iv = Seq((ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00")))
      .toDF("start_time", "end_time")
    assert(Filters.pointInInterval(facts, iv).count == 3)
  }

  test("J1 binned: pointInIntervalBinned matches the broadcast path") {
    val rnd = new scala.util.Random(7)
    val facts = (0 until 400).map(i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + rnd.nextInt(2000000) * 1000L)))
      .toDF("id", "date_time")
    val iv = (0 until 30).map { _ =>
      val s = 1700000000000L + rnd.nextInt(2000000) * 1000L
      (new java.sql.Timestamp(s),
        new java.sql.Timestamp(s + rnd.nextInt(200000) * 1000L))
    }.toDF("start_time", "end_time") // overlapping intervals on purpose
    // bins much smaller than intervals (many replicas) and much larger
    // (coarse buckets) must both agree with the broadcast nested loop
    val expect = Filters.pointInInterval(facts, iv)
      .select("id").as[Long].collect().sorted.toSeq
    for (w <- Seq(60L, 3600L, 7 * 86400L)) {
      val got = Filters.pointInIntervalBinned(facts, iv, binWidthSec = w)
        .select("id").as[Long].collect().sorted.toSeq
      assert(got == expect, s"binWidthSec=$w")
    }
    // boundary inclusivity survives the binned path (Q9)
    val bf = Seq(ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00"),
      ts("2024-01-01 00:10:01")).toDF("date_time")
    val biv = Seq((ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00")))
      .toDF("start_time", "end_time")
    assert(Filters.pointInIntervalBinned(bf, biv, binWidthSec = 600).count == 2)
    // inverted intervals match nothing rather than erroring in sequence()
    val inv = Seq((ts("2024-01-01 00:10:00"), ts("2024-01-01 00:00:00")))
      .toDF("start_time", "end_time")
    assert(Filters.pointInIntervalBinned(bf, inv).count == 0)
  }

  test("J1 keyed: both join paths match only the intervals of a row's key") {
    val facts = Seq(("a", ts("2024-01-01 00:05:00")),
      ("b", ts("2024-01-01 00:05:00")), ("b", ts("2024-01-01 01:05:00")))
      .toDF("subject", "date_time")
    // a's interval covers every fact time; b's covers only 01:05
    val iv = Seq(
      ("a", ts("2024-01-01 00:00:00"), ts("2024-01-01 02:00:00")),
      ("b", ts("2024-01-01 01:00:00"), ts("2024-01-01 01:10:00")))
      .toDF("subject", "start_time", "end_time")
    val expect = Seq("a 2024-01-01 00:05:00.0", "b 2024-01-01 01:05:00.0")
    def kept(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => s"${r.getString(0)} ${r.getTimestamp(1)}").sorted.toSeq
    assert(kept(Filters.pointInInterval(facts, iv, keys = Seq("subject"))) ==
      expect)
    for (w <- Seq(60L, 3600L))
      assert(kept(Filters.pointInIntervalBinned(facts, iv, binWidthSec = w,
        keys = Seq("subject"))) == expect, s"binWidthSec=$w")
    // without keys, a's interval keeps b's early row too
    assert(Filters.pointInInterval(facts, iv).count == 3)
  }

  // ---- Windows -----------------------------------------------------------

  test("W1: dedupConsecutive keeps first row and change points") {
    val df = Seq((1, 1.0), (2, 1.0), (3, 2.0), (4, 2.0), (5, 1.0))
      .toDF("i", "v")
    val got = Windows.dedupConsecutive(df, "v", Nil, Seq("i"))
      .select("i").as[Int].collect().toSeq
    assert(got.sorted == Seq(1, 3, 5))
  }

  test("scd2: consecutive repeats collapse, valid_to chains to the next " +
    "change, current version stays open") {
    val df = Seq(
      ("u", 1L, 10L), ("u", 2L, 10L), // repeat collapses into version 1
      ("u", 3L, 20L),
      ("u", 4L, 10L), // value returns → NEW version, not merged with v1
      ("w", 7L, 5L)).toDF("k", "ts", "state")
    val got = Windows.scd2(df, Seq("k"), "ts", "state")
      .orderBy("k", "valid_from").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(got.toSeq == Seq(
      ("u", 10L, 1L, Some(3L)),
      ("u", 20L, 3L, Some(4L)),
      ("u", 10L, 4L, None),
      ("w", 5L, 7L, None)))
  }

  test("W2/Q5: counter delta — non-increase keeps the TOTAL, not zero") {
    val df = Seq(
      (ts("2024-01-01 00:00:00"), 10.0), // first row: reset → mins = 10
      (ts("2024-01-01 01:00:00"), 25.0), // increase → 15
      (ts("2024-01-01 02:00:00"), 25.0), // no increase → Q5: mins = 25
      (ts("2024-01-01 03:00:00"), 20.0), // decrease → Q5: mins = 20
      (ts("2024-01-02 00:00:00"), 30.0)  // 21h gap > 12h → reset → 30
    ).toDF("ts", "c")
    val got = Windows.counterDelta(df, "ts", "c", Nil)
      .orderBy("ts").select("mins").as[Double].collect().toSeq
    assert(got == Seq(10.0, 15.0, 25.0, 20.0, 30.0))
  }

  test("W3: mergeIntervals merges overlapping AND touching (J2 semantics)") {
    val df = Seq(
      (ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00")),
      (ts("2024-01-01 01:00:00"), ts("2024-01-01 02:00:00")), // touching
      (ts("2024-01-01 01:30:00"), ts("2024-01-01 01:40:00")), // contained
      (ts("2024-01-01 03:00:00"), ts("2024-01-01 04:00:00"))  // separate
    ).toDF("start_time", "end_time")
    val got = intervalsOf(Windows.mergeIntervals(df))
    assert(got == Seq(
      ("2024-01-01 00:00:00.0", "2024-01-01 02:00:00.0"),
      ("2024-01-01 03:00:00.0", "2024-01-01 04:00:00.0")))
  }

  test("W4: mergeAdjacentWindows needs same category AND contiguity") {
    val df = Seq(
      (ts("2024-01-01 00:00:00"), ts("2024-01-01 00:05:00"), "rest"),
      (ts("2024-01-01 00:05:00"), ts("2024-01-01 00:10:00"), "rest"),
      (ts("2024-01-01 00:10:00"), ts("2024-01-01 00:15:00"), "active"),
      (ts("2024-01-01 00:20:00"), ts("2024-01-01 00:25:00"), "active") // gap
    ).toDF("start_time", "end_time", "category")
    val got = Windows.mergeAdjacentWindows(df)
      .orderBy("start_time")
      .select("category", "start_time", "end_time").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString)).toSeq
    assert(got == Seq(
      ("rest", "2024-01-01 00:00:00.0", "2024-01-01 00:10:00.0"),
      ("active", "2024-01-01 00:10:00.0", "2024-01-01 00:15:00.0"),
      ("active", "2024-01-01 00:20:00.0", "2024-01-01 00:25:00.0")))
  }

  test("W5: sessionize splits on gap > threshold") {
    val df = Seq(
      ts("2024-01-01 00:00:00.0"), ts("2024-01-01 00:00:00.5"),
      ts("2024-01-01 00:00:02.0"), // 1.5 s gap → new session
      ts("2024-01-01 00:00:02.9")).toDF("ts")
    val got = Windows.sessionize(df, "ts", Nil, 1.0)
      .orderBy("ts").select("session_id").as[Long].collect().toSeq
    assert(got == Seq(1, 1, 2, 2))
  }

  // ---- Intervals ---------------------------------------------------------

  test("J2: overlaps counts touching endpoints") {
    val df = Seq((1, 2, 2, 3), (1, 2, 3, 4)).toDF("as", "ae", "bs", "be")
    val got = df.select(Intervals.overlaps(col("as"), col("ae"),
      col("bs"), col("be"))).as[Boolean].collect().toSeq
    assert(got == Seq(true, false))
  }

  test("J3: subtract clips, splits, keeps touching endpoints, drops degenerates (Q8)") {
    val base = Seq((ts("2024-01-01 00:00:00"), ts("2024-01-01 10:00:00")))
      .toDF("start_time", "end_time")
    val sub = Seq(
      (ts("2024-01-01 03:00:00"), ts("2024-01-01 05:00:00")), // middle
      (ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00")), // left edge
      (ts("2024-01-01 09:00:00"), ts("2024-01-01 12:00:00"))  // right overhang
    ).toDF("start_time", "end_time")
    val got = intervalsOf(Intervals.subtractIntervals(base, sub))
    assert(got == Seq(
      ("2024-01-01 01:00:00.0", "2024-01-01 03:00:00.0"),
      ("2024-01-01 05:00:00.0", "2024-01-01 09:00:00.0")))
  }

  test("J3: subtract with empty sub returns merged base; x − x = ∅ (Q8 empties)") {
    val base = Seq(
      (ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00")),
      (ts("2024-01-01 00:30:00"), ts("2024-01-01 02:00:00"))
    ).toDF("start_time", "end_time")
    val empty = base.filter(lit(false))
    assert(intervalsOf(Intervals.subtractIntervals(base, empty)) ==
      Seq(("2024-01-01 00:00:00.0", "2024-01-01 02:00:00.0")))
    assert(Intervals.subtractIntervals(base, base).count == 0)
    assert(Intervals.subtractIntervals(empty, base).count == 0)
  }

  test("J3/W3 property: subtract covers no point of sub; merge is idempotent") {
    // pseudo-random fixed-seed intervals, checked against a brute-force
    // minute-resolution bitmap oracle
    val rnd = new scala.util.Random(42)
    def mk(n: Int) = Seq.fill(n) {
      val s = rnd.nextInt(500); val e = s + 1 + rnd.nextInt(120)
      (new java.sql.Timestamp(86400000L + s * 60000L),
        new java.sql.Timestamp(86400000L + e * 60000L))
    }
    val base = mk(15).toDF("start_time", "end_time")
    val sub = mk(10).toDF("start_time", "end_time")
    val got = Intervals.subtractIntervals(base, sub).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("start_time").getTime,
        r.getAs[java.sql.Timestamp]("end_time").getTime))

    def cover(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().flatMap { r =>
        val s = r.getAs[java.sql.Timestamp]("start_time").getTime
        val e = r.getAs[java.sql.Timestamp]("end_time").getTime
        // open-interval midpoints at 30 s resolution
        (s until e by 30000L).map(_ + 15000L)
      }.toSet
    val baseCover = cover(base); val subCover = cover(sub)
    val gotCover = got.flatMap { case (s, e) =>
      (s until e by 30000L).map(_ + 15000L)
    }.toSet
    assert(gotCover == (baseCover -- subCover))

    val merged = Windows.mergeIntervals(base)
    assert(intervalsOf(Windows.mergeIntervals(merged)) == intervalsOf(merged))
  }

  test("intersect: base ∩ sub via sweep") {
    val a = Seq((ts("2024-01-01 00:00:00"), ts("2024-01-01 02:00:00")))
      .toDF("start_time", "end_time")
    val b = Seq((ts("2024-01-01 01:00:00"), ts("2024-01-01 03:00:00")))
      .toDF("start_time", "end_time")
    assert(intervalsOf(Intervals.intersectIntervals(a, b)) ==
      Seq(("2024-01-01 01:00:00.0", "2024-01-01 02:00:00.0")))
  }

  test("J3 property: keyed subtract and intersect equal the bitmap model " +
    "on shared instants, degenerate, duplicate and nested intervals") {
    // endpoints on a 5-minute grid, so many intervals share an instant
    val rnd = new scala.util.Random(4242)
    val Min = 60000L
    def at(m: Int) = new java.sql.Timestamp(86400000L + m * Min)
    def mk(n: Int): Seq[(String, Int, Int)] = {
      val drawn = Seq.fill(n) {
        val s = 5 * rnd.nextInt(40); val e = s + 5 * rnd.nextInt(7)
        (if (rnd.nextBoolean()) "a" else "b", s, e) // e == s: degenerate
      }
      val nested = drawn.collect { case (k, s, e) if e - s >= 15 =>
        (k, s + 5, e - 5) }
      drawn ++ drawn.take(3) ++ nested ++ Seq(("a", 50, 50), ("b", 0, 0))
    }
    def frame(ivs: Seq[(String, Int, Int)]) = ivs
      .map { case (k, s, e) => (k, at(s), at(e)) }
      .toDF("subject", "start_time", "end_time")
    // the model: one bit per minute cell [m, m+1), per key
    def cells(ivs: Seq[(String, Int, Int)]): Set[(String, Int)] =
      ivs.flatMap { case (k, s, e) => (s until e).map(k -> _) }.toSet
    def runs(cs: Set[(String, Int)]): Seq[(String, Long, Long)] =
      cs.groupBy(_._1).toSeq.flatMap { case (k, kc) =>
        val ms = kc.map(_._2).toSeq.sorted
        ms.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, m) if m == e => (s, m + 1) :: rest
          case (acc, m) => (m, m + 1) :: acc
        }.map { case (s, e) => (k, at(s).getTime, at(e).getTime) }
      }.sorted
    def got(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime)).toSeq.sorted

    for (round <- 0 until 4) {
      val base = mk(25); val sub = mk(15)
      val (b, s) = (frame(base), frame(sub))
      assert(got(Intervals.subtractIntervals(b, s, Seq("subject"))) ==
        runs(cells(base) -- cells(sub)), s"subtract, round $round")
      assert(got(Intervals.intersectIntervals(b, s, Seq("subject"))) ==
        runs(cells(base) intersect cells(sub)), s"intersect, round $round")
    }
  }

  test("timeline: one labelled sweep equals the two-subtract formula") {
    // net sleep and a categorized window table as a stored --acc_cat file
    // may hold them: overlapping rest and active windows, duplicates
    val rnd = new scala.util.Random(77)
    val Cats = Seq("rest", "rest", "low active", "high active")
    def at(m: Int) = new java.sql.Timestamp(86400000L + m * 60000L)
    def sleepFrame() = Seq.fill(6) {
      val s = 10 * rnd.nextInt(30)
      (if (rnd.nextBoolean()) "a" else "b", at(s), at(s + 10 * rnd.nextInt(8)))
    }.toDF("subject", "start_time", "end_time")
    def catFrame() = {
      val ws = Seq.fill(20) {
        val s = 5 * rnd.nextInt(60)
        (if (rnd.nextBoolean()) "a" else "b", at(s),
          at(s + 5 * (1 + rnd.nextInt(4))), Cats(rnd.nextInt(Cats.size)))
      }
      (ws ++ ws.take(2)).toDF("subject", "start_time", "end_time", "category")
    }
    def twoSubtracts(sleep: org.apache.spark.sql.DataFrame,
                     cat: org.apache.spark.sql.DataFrame,
                     part: Seq[String]) = {
      def iv(df: org.apache.spark.sql.DataFrame) =
        df.select((part :+ "start_time" :+ "end_time").map(col): _*)
      val active = cat.filter(col("category") =!= "rest")
      val sleepFinal = Intervals.subtractIntervals(sleep, iv(active), part)
        .withColumn("category", lit("sleep"))
      val wakeRest = Intervals.subtractIntervals(
          iv(cat.filter(col("category") === "rest")), iv(sleepFinal), part)
        .withColumn("category", lit("rest"))
      sleepFinal
        .unionByName(active.select(sleepFinal.columns.map(col): _*))
        .unionByName(wakeRest)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(col): _*).collect()
        .map(_.toString).sorted.toSeq
    for (round <- 0 until 3) {
      val (sleep, cat) = (sleepFrame(), catFrame())
      assert(rows(graft.pipeline.Pipelines.timelineFromCategorized(sleep,
        cat, Seq("subject"))) == rows(twoSubtracts(sleep, cat,
        Seq("subject"))), s"keyed, round $round")
      val (s1, c1) = (sleep.filter(col("subject") === "a"),
        cat.filter(col("subject") === "a"))
      assert(rows(graft.pipeline.Pipelines.timelineFromCategorized(s1, c1)) ==
        rows(twoSubtracts(s1, c1, Nil)), s"unkeyed, round $round")
    }
  }

  test("plan shape: nested subtracts reference each input once") {
    // leaves told apart by row count; the innermost has one row
    val leaves = (1 to 4).map(n => (0 until n).map(i =>
      (new java.sql.Timestamp(86400000L + i * 600000L),
        new java.sql.Timestamp(86400000L + i * 600000L + 300000L)))
      .toDF("start_time", "end_time"))
    val nested = leaves.tail.foldLeft(leaves.head)(
      Intervals.subtractIntervals(_, _))
    val scans = nested.queryExecution.optimizedPlan.collectLeaves().collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.size }
    assert(scans.sorted == Seq(1, 2, 3, 4))
  }

  // ---- CompatMode matrix (SURVEY §7.4-3; VERDICT r2 item 6) --------------

  test("CompatMode matrix: Q1/Q2/Q4/Q6 — Faithful replays each reference " +
    "quirk, Intended fixes it, and they agree on the quirk-free inputs") {
    import CompatMode.{Faithful, Intended}
    for (mode <- Seq(Faithful, Intended)) {
      val faithful = mode == Faithful

      // Q1 — bin label arithmetic. 00:13:00 UTC in a 10-minute bucket:
      // intended = floor(epoch/600)·600 → 00:10:00. Faithful multiplies
      // the bin INDEX by the 5-minute literal (floor(epoch/600)·300),
      // which halves the whole timeline — the label lands in 1996. That
      // absurdity is the point: the reference's labels are only
      // meaningful at the default width.
      val q1 = Seq(ts("2024-01-01 00:13:00")).toDF("t")
        .select(CompatMode.timeBucket(col("t"), 600L, mode).cast("string"))
        .as[String].head()
      assert(q1 == (if (faithful) "1996-12-31 12:05:00"
                    else "2024-01-01 00:10:00"), s"Q1 $mode")
      // both modes agree at the reference's default 300 s width
      val q1Agree = Seq(ts("2024-01-01 00:13:00")).toDF("t")
        .select(CompatMode.timeBucket(col("t"), 300L, mode).cast("string"))
        .as[String].head()
      assert(q1Agree == "2024-01-01 00:10:00", s"Q1-default $mode")

      // Q2 — |x−z| never checked when faithful: x=0, y=40, z=80, tol=50
      // passes pairwise (40, 40) but fails all-pairs (|x−z| = 80).
      assert(Acc.xyzMatch(0L, 40L, 80L, 50L,
        CompatMode.xyzAllPairs(mode)) == faithful, s"Q2 $mode")
      // agree when all three pairs are within tolerance
      assert(Acc.xyzMatch(0L, 20L, 40L, 50L,
        CompatMode.xyzAllPairs(mode)), s"Q2-clean $mode")

      // Q4 — the no-op sort_values: faithful preserves concat order.
      val q4 = CompatMode.cleanupOrder(
        Seq(3, 1, 2).toDF("v"), Seq(col("v")), mode).as[Int].collect().toSeq
      assert(q4 == (if (faithful) Seq(3, 1, 2) else Seq(1, 2, 3)),
        s"Q4 $mode")

      // Q6 — merge walks INPUT order when faithful. Input (out of time
      // order, one within-pair swap): [10:00,10:50], [11:40,11:30](swapped),
      // [10:20,10:30]. Faithful: pair-sort normalizes row 2 to
      // [11:30,11:40]; the walk puts row 3 inside the CURRENT island
      // ([11:30,11:40], since 11:40 >= 10:20) and keeps that island's
      // FIRST start → [10:00,10:50], [11:30,11:40]. Intended sorts by
      // start first but does not repair the swapped pair: [10:20,10:30]
      // merges into [10:00,10:50]; the malformed [11:40,11:30] stands.
      val q6in = Seq(
        (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:50:00")),
        (ts("2024-01-01 11:40:00"), ts("2024-01-01 11:30:00")),
        (ts("2024-01-01 10:20:00"), ts("2024-01-01 10:30:00")))
        .toDF("start_time", "end_time").coalesce(1)
      val q6 = intervalsOf(CompatMode.mergeIntervals(q6in, Nil, mode))
      val q6want =
        if (faithful) Seq(
          ("2024-01-01 10:00:00.0", "2024-01-01 10:50:00.0"),
          ("2024-01-01 11:30:00.0", "2024-01-01 11:40:00.0"))
        else Seq(
          ("2024-01-01 10:00:00.0", "2024-01-01 10:50:00.0"),
          ("2024-01-01 11:40:00.0", "2024-01-01 11:30:00.0"))
      assert(q6 == q6want, s"Q6 $mode")
      // agree on time-ordered well-formed input (incl. partition cols)
      val q6clean = Seq(
        ("a", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00")),
        ("a", ts("2024-01-01 10:30:00"), ts("2024-01-01 11:00:00")),
        ("a", ts("2024-01-01 12:00:00"), ts("2024-01-01 12:10:00")),
        ("b", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00")))
        .toDF("subject", "start_time", "end_time").coalesce(1)
      val got = CompatMode.mergeIntervals(q6clean, Seq("subject"), mode)
        .select("subject", "start_time", "end_time").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString)).sorted.toSeq
      assert(got == Seq(
        ("a", "2024-01-01 10:00:00.0", "2024-01-01 11:00:00.0"),
        ("a", "2024-01-01 12:00:00.0", "2024-01-01 12:10:00.0"),
        ("b", "2024-01-01 10:00:00.0", "2024-01-01 10:10:00.0")),
        s"Q6-clean $mode")
    }
  }

  // ---- Layout (Z-order) --------------------------------------------------

  test("mortonKey: hand bit-interleave (a=5, b=3, 3 bits -> 27), " +
    "3-dim case, masking wraps out-of-range inputs, k*bits cap") {
    val got = Seq((5L, 3L)).toDF("a", "b")
      .select(
        Layout.mortonKey(Seq(col("a"), col("b")), 3).as("z2"),
        Layout.mortonKey(Seq(lit(1L), lit(1L), lit(1L)), 1).as("z3"),
        Layout.mortonKey(Seq(col("a") + (1L << 16), col("b")), 16)
          .as("zm"),
        Layout.mortonKey(Seq(col("a"), col("b")), 16).as("zk"))
      .head()
    // a=101, b=011 interleaved (a even positions): 011011 = 27
    assert(got.getLong(0) == 27L, s"got ${got.getLong(0)}")
    assert(got.getLong(1) == 7L)
    // 2^16 + 5 masks back to 5 at 16 bits
    assert(got.getLong(2) == got.getLong(3))
    intercept[IllegalArgumentException] {
      Layout.mortonKey(Seq(col("a"), col("b")), 32)
    }
    intercept[IllegalArgumentException] {
      Layout.quantizeMinMax(col("a"), 5.0, 5.0)
    }
  }

  test("quantizeMinMax: linear buckets, edge clamping") {
    val got = Seq(0.0, 0.5, 1.0, -3.0, 9.0).toDF("x")
      .select(Layout.quantizeMinMax(col("x"), 0.0, 1.0, bits = 4)
        .as("q"))
      .collect().map(_.getLong(0)).toSeq
    // 16 buckets over [0,1]: 0 -> 0, 0.5 -> 8, 1.0 -> 15 (clamped from
    // 16), out-of-range clamps to the edges
    assert(got == Seq(0L, 8L, 15L, 0L, 15L), s"got $got")
  }

  test("writeZordered: one range exchange, files carry DISJOINT z-key " +
    "ranges and small per-dimension bounding boxes (the min/max " +
    "pruning precondition a plain single-column sort cannot give the " +
    "trailing dimension)") {
    val n = 4096
    val df = spark.range(n.toLong).toDF("id")
      .select(col("id"),
        (col("id") % 64).as("da"), (col("id") / 64).cast("long").as("db"))
    val tmp = java.nio.file.Files.createTempDirectory("zord").toString
    Layout.writeZordered(df, s"$tmp/z", Seq(col("da"), col("db")),
      shards = 8, bits = 6)
    val back = spark.read.parquet(s"$tmp/z")
      .select(input_file_name().as("f"),
        Layout.mortonKey(Seq(col("da"), col("db")), 6).as("z"),
        col("da"), col("db"))
    val stats = back.groupBy("f").agg(
      min("z").as("zmin"), max("z").as("zmax"),
      (max("da") - min("da")).as("wa"),
      (max("db") - min("db")).as("wb"),
      count(lit(1)).as("cnt")).collect()
    // range boundaries come from sampling, so allow an empty shard or
    // two — but never a single-file collapse
    assert(stats.length >= 6 && stats.length <= 8,
      s"got ${stats.length} files")
    // z-ranges disjoint across files (range partitioning on the key)
    val ranges = stats.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach { w =>
      if (w.length == 2)
        assert(w(0)._2 <= w(1)._1, s"overlapping z ranges: $w")
    }
    // bounded boxes: a sampled boundary that crosses a major quadrant
    // edge can legitimately stretch ONE file wide in one dimension, so
    // the gate is statistical — the mean box area must sit far below
    // the 64x64 global area (a db-sorted layout would put wa=63 on
    // every file), and most files must be tight in both dimensions
    val areas = stats.map(r => (r.getLong(3) + 1) * (r.getLong(4) + 1))
    assert(areas.sum / areas.length <= 2048,
      s"mean bounding-box area too wide: ${areas.toSeq}")
    val tight = stats.count(r => r.getLong(3) <= 40 && r.getLong(4) <= 40)
    assert(tight * 2 >= stats.length,
      s"most files should be tight in BOTH dims: ${stats.toSeq}")
  }

  test("gateAudit: per-gate flag counts, marginal attribution " +
    "(failing ONLY that gate), survivors; null text never double-" +
    "counts into quality/lang") {
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "it runs far away to the old stone house by the river bank"
    val docs = Seq(
      (1L, good),                       // passes all
      (2L, null.asInstanceOf[String]),  // null only
      (3L, "zz qq xx yy ww vv uu tt"))  // low quality AND not-en
      .toDF("doc_id", "text")
    val got = Quality.gateAudit(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("null_text") == ((1L, 1L)), s"got $got")
    // doc 3 fails BOTH quality and lang -> flagged by each, marginal 0
    assert(got("quality")._1 == 1L && got("quality")._2 == 0L,
      s"got $got")
    assert(got("lang")._1 == 1L && got("lang")._2 == 0L, s"got $got")
    assert(got("all_pass") == ((1L, 1L)), s"got $got")
  }

  test("spearman: perfect monotone 1, inverse -1, hand-computed tied " +
    "case -1/3, constant column null, grouped and ungrouped forms") {
    val mono = Seq((1, 10), (2, 30), (3, 31), (4, 99))
      .toDF("a", "b")
    assert(Stats.spearman(mono, "a", "b").head().getDouble(1) == 1.0)
    val inv = Seq((1, 99), (2, 31), (3, 30), (4, 10)).toDF("a", "b")
    assert(Stats.spearman(inv, "a", "b").head().getDouble(1) == -1.0)
    // ties: a ranks (1, 2.5, 2.5, 4), b ranks (2, 3.5, 3.5, 1)
    // -> Pearson over ranks = -1/3
    val tied = Seq((1, 10), (2, 20), (2, 20), (4, 5)).toDF("a", "b")
    val rho = Stats.spearman(tied, "a", "b").head().getDouble(1)
    assert(math.abs(rho - (-1.0 / 3.0)) < 1e-12, s"got $rho")
    // constant column: zero variance -> null
    val const = Seq((1, 7), (2, 7), (3, 7)).toDF("a", "b")
    assert(Stats.spearman(const, "a", "b").head().isNullAt(1))
    // grouped: one row per group, nulls excluded
    val g = Seq(("g1", Some(1), Some(1)), ("g1", Some(2), Some(2)),
      ("g1", None, Some(9)), ("g2", Some(1), Some(2)),
      ("g2", Some(2), Some(1))).toDF("grp", "a", "b")
    val rows = Stats.spearman(g, "a", "b", Seq("grp"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(rows("g1") == ((2L, 1.0)) && rows("g2") == ((2L, -1.0)))
  }

  test("rocAuc: perfect separation 1, reversed 0, hand tied case, " +
    "single-class null, grouped form, null rows excluded") {
    // perfect: every positive outranks every negative
    val perf = Seq((0, 1), (0, 2), (1, 3), (1, 4)).toDF("label", "score")
    assert(Stats.rocAuc(perf).head().getDouble(2) == 1.0)
    val rev = Seq((1, 1), (1, 2), (0, 3), (0, 4)).toDF("label", "score")
    assert(Stats.rocAuc(rev).head().getDouble(2) == 0.0)
    // hand case with ties: scores pos={2,3}, neg={1,3}
    // pairs: (2>1)=1, (2 vs 3)=0, (3>1)=1, (3 vs 3 tie)=0.5 → 2.5/4
    val tied = Seq((1, 2), (1, 3), (0, 1), (0, 3)).toDF("label", "score")
    assert(Stats.rocAuc(tied).head().getDouble(2) == 0.625)
    // one class only → undefined, never a fake 0.5
    val onec = Seq((1, 1), (1, 2)).toDF("label", "score")
    assert(Stats.rocAuc(onec).head().isNullAt(2))
    // grouped + null exclusion
    val g = Seq(("a", Some(1), Some(5)), ("a", Some(0), Some(1)),
      ("a", None, Some(9)), ("b", Some(0), Some(5)),
      ("b", Some(1), Some(1))).toDF("grp", "label", "score")
    val rows = Stats.rocAuc(g, groupCols = Seq("grp")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows("a") == ((1L, 1L, 1.0)) && rows("b") == ((1L, 1L, 0.0)),
      s"got $rows")
  }

  test("gini: equal shares 0, hand case 1/6, one-holder maximum " +
    "(n-1)/n, zero mass and negative values null, grouped form") {
    val eq = Seq(5L, 5L, 5L, 5L).toDF("v")
    assert(Stats.gini(eq, "v").head().getDouble(1) == 0.0)
    // hand: values 1,1,2 sorted → A = 1+2+6 = 9, S = 4, n = 3
    // G = (18 − 16)/12 = 1/6
    val hand = Seq(2L, 1L, 1L).toDF("v")
    assert(Stats.gini(hand, "v").head().getDouble(1) == 1.0 / 6.0)
    // one holder of everything: G = (n−1)/n
    val one = Seq(0L, 0L, 0L, 12L).toDF("v")
    assert(Stats.gini(one, "v").head().getDouble(1) == 0.75)
    // zero total mass / any negative → undefined
    assert(Stats.gini(Seq(0L, 0L).toDF("v"), "v").head().isNullAt(1))
    assert(Stats.gini(Seq(-1L, 5L).toDF("v"), "v").head().isNullAt(1))
    // grouped, nulls excluded
    val g = Seq(("a", Some(5L)), ("a", Some(5L)), ("a", None),
      ("b", Some(0L)), ("b", Some(9L))).toDF("grp", "v")
    val rows = Stats.gini(g, "v", Seq("grp")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(rows("a") == ((2L, 0.0)) && rows("b") == ((2L, 0.5)),
      s"got $rows")
  }

  test("pseudonymize: deterministic salted sha256 (verified against " +
    "MessageDigest), null preserved, salt rotation unlinks, missing " +
    "column and empty salt rejected") {
    val df = Seq((1L, Some("u1"), Some("s1")), (2L, Some("u1"), None),
      (3L, Some("u2"), Some("s1"))).toDF("id", "user_id", "src")
    val out = Quality.pseudonymize(df, Seq("user_id", "src"), "k1")
      .orderBy("id").collect()
    def sha(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    assert(out(0).getString(1) == sha("k1:u1"))
    assert(out(0).getString(2) == sha("k1:s1"))
    // deterministic within a release: same value, same hash
    assert(out(1).getString(1) == out(0).getString(1))
    assert(out(1).isNullAt(2)) // null stays null
    assert(out(2).getString(1) == sha("k1:u2"))
    // a rotated salt unlinks
    val rot = Quality.pseudonymize(df, Seq("user_id"), "k2")
      .orderBy("id").head().getString(1)
    assert(rot != out(0).getString(1) && rot == sha("k2:u1"))
    intercept[IllegalArgumentException] {
      Quality.pseudonymize(df, Seq("nope"), "k1")
    }
    intercept[IllegalArgumentException] {
      Quality.pseudonymize(df, Seq("user_id"), "")
    }
  }

  test("mcnemar: hand-computed counts and continuity-corrected " +
    "statistic, zero discordance -> null chi2, nulls excluded") {
    // 10 items: both right x4, both wrong x2, A-only x3, B-only x1
    val rows = Seq.fill(4)((1, 1)) ++ Seq.fill(2)((0, 0)) ++
      Seq.fill(3)((1, 0)) ++ Seq.fill(1)((0, 1))
    val got = Quality.mcnemar(rows.toDF("a_correct", "b_correct")).head()
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3), got.getLong(4)) == ((10L, 4L, 2L, 3L, 1L)))
    // chi2 = (|3-1|-1)^2 / 4 = 0.25
    assert(got.getDouble(5) == 0.25, s"got $got")
    // equal discordance: (|2-2|-1)^2 / 4 = 0.25 (Edwards' form as
    // written — no clamp, matching statsmodels)
    val eq = Quality.mcnemar(
      (Seq.fill(2)((1, 0)) ++ Seq.fill(2)((0, 1)))
        .toDF("a_correct", "b_correct")).head()
    assert(eq.getDouble(5) == 0.25)
    // zero discordance carries no evidence -> null statistic
    val agree = Quality.mcnemar(
      Seq((1, 1), (0, 0)).toDF("a_correct", "b_correct")).head()
    assert(agree.isNullAt(5) && agree.getLong(0) == 2L)
    // null-labeled rows are excluded before counting
    val withNull = Quality.mcnemar(
      Seq((Some(1), Some(0)), (None, Some(1)), (Some(1), None))
        .toDF("a_correct", "b_correct")).head()
    assert(withNull.getLong(0) == 1L && withNull.getLong(3) == 1L)
  }

  test("krippendorffAlpha: hand-computed 0.5 case with variable " +
    "rater counts, perfect agreement = 1, single-rating items " +
    "excluded, empty input null alpha, maxRaters contract enforced") {
    // items: A {1,1} agree; B {1,2} split; C {2,2,2} agree; D {1} (one
    // rating -> excluded). L = lcm(1,2) = 2 at maxRaters = 3.
    // D_o*L = 2*2 (item B); n_c = (3, 4), n = 7, D_e = 49-25 = 24;
    // alpha = 1 - 6*4/(2*24) = 0.5
    val ratings = Seq(
      ("A", 1), ("A", 1), ("B", 1), ("B", 2),
      ("C", 2), ("C", 2), ("C", 2), ("D", 1))
      .toDF("item_id", "label")
    val got = Quality.krippendorffAlpha(ratings, maxRaters = 3).head()
    assert(got.getLong(0) == 3L && got.getLong(1) == 7L,
      s"got $got")
    assert(got.getLong(2) == 4L && got.getLong(3) == 24L)
    assert(got.getDouble(4) == 0.5, s"got ${got.getDouble(4)}")
    // perfect agreement across incomplete raters -> alpha = 1
    val perfect = Seq(("A", 1), ("A", 1), ("B", 2), ("B", 2), ("B", 2))
      .toDF("item_id", "label")
    assert(Quality.krippendorffAlpha(perfect, maxRaters = 3)
      .head().getDouble(4) == 1.0)
    // all items single-rated -> zero usable, null alpha
    val sparse = Seq(("A", 1), ("B", 2)).toDF("item_id", "label")
    val sp = Quality.krippendorffAlpha(sparse).head()
    assert(sp.getLong(0) == 0L && sp.isNullAt(4))
    // an item with more ratings than maxRaters fails descriptively
    intercept[IllegalArgumentException] {
      Quality.krippendorffAlpha(
        Seq.fill(5)(("A", 1)).toDF("item_id", "label"),
        maxRaters = 4).head()
    }
  }

  test("krippendorffAlpha survives the (n-1)*d_o_l LONG-overflow " +
    "edge: 30k fully-disagreeing pairs at maxRaters=24 push the " +
    "product past Long.MaxValue — the double-multiply path must " +
    "still return the closed-form (2-n)/n") {
    // the documented ~1e7-pairable-item edge at the ceiling declared
    // maxRaters (L = lcm(1..23) ~ 5.35e9): the overflow condition is
    // (n-1)*d_o_l > 2^63-1 with d_o_l itself still in range. 30k
    // items x {0,1} give d_o_l = 30000*2L ~ 3.2e14 (fits) and
    // (n-1)*d_o_l ~ 1.93e19 (wraps as a LONG — the pre-fix path);
    // complete disagreement has the closed form alpha = (2-n)/n.
    val L = (1L to 23L).reduce { (a, b) =>
      @annotation.tailrec
      def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
      a / gcd(a, b) * b
    }
    assert(L == 5354228880L) // lcm(1..23)
    val nItems = 30000L
    val ratings = spark.range(nItems).select(
      col("id").cast("string").as("item_id"),
      explode(array(lit(0), lit(1))).as("label"))
    val got = Quality.krippendorffAlpha(ratings, maxRaters = 24).head()
    val n = 2 * nItems
    assert(got.getLong(0) == nItems && got.getLong(1) == n, s"got $got")
    assert(got.getLong(2) == nItems * 2 * L, s"d_o_l: ${got.getLong(2)}")
    assert(got.getLong(3) == n * n / 2, s"d_e_num: ${got.getLong(3)}")
    // the pre-fix LONG product would wrap: (n-1)*d_o_l > Long.MaxValue
    assert(BigInt(n - 1) * BigInt(nItems * 2 * L) >
      BigInt(Long.MaxValue))
    val want = (2.0 - n) / n
    assert(math.abs(got.getDouble(4) - want) < 1e-9,
      s"alpha: ${got.getDouble(4)} vs $want")
  }

  test("parquetStats reads the footers the scanner prunes with: the " +
    "z-ordered layout bounds BOTH dimensions per file where a " +
    "single-column sort leaves the trailing dimension at full width") {
    val n = 4096
    val df = spark.range(n.toLong).toDF("id")
      .select(col("id"), (col("id") % 64).as("da"),
        (col("id") / 64).cast("long").as("db"))
    val tmp = java.nio.file.Files.createTempDirectory("pqs").toString
    Layout.writeZordered(df, s"$tmp/z", Seq(col("da"), col("db")),
      shards = 8, bits = 6)
    df.repartitionByRange(8, col("db")).sortWithinPartitions("db")
      .write.mode("overwrite").parquet(s"$tmp/s")
    def spans(path: String, c: String): Seq[Long] =
      Layout.parquetStats(spark, path)
        .filter(col("column") === c)
        .groupBy("file")
        .agg((max(col("max").cast("long"))
          - min(col("min").cast("long"))).as("w"))
        .collect().map(_.getLong(1)).toSeq
    // single-sort on db: every file's FOOTER says da spans the whole
    // 0..63 domain — no filter on da can skip anything
    val sda = spans(s"$tmp/s", "da")
    assert(sda.nonEmpty && sda.forall(_ == 63L), s"got $sda")
    // z-order: the same footers bound BOTH dimensions well under the
    // domain width on average — the row-group skip precondition
    val zda = spans(s"$tmp/z", "da")
    val zdb = spans(s"$tmp/z", "db")
    assert(zda.sum / zda.length <= 48, s"da spans: $zda")
    assert(zdb.sum / zdb.length <= 48, s"db spans: $zdb")
    // the audit surfaces row counts that add back to the input
    val total = Layout.parquetStats(spark, s"$tmp/z")
      .filter(col("column") === "da")
      .agg(sum("n_rows")).head().getLong(0)
    assert(total == n.toLong, s"got $total rows")
    // partitioned layouts nest files under key=value dirs — the audit
    // must recurse, not silently report "no statistics"
    df.write.mode("overwrite").partitionBy("da")
      .parquet(s"$tmp/p")
    val pTotal = Layout.parquetStats(spark, s"$tmp/p")
      .filter(col("column") === "db")
      .agg(sum("n_rows")).head().getLong(0)
    assert(pTotal == n.toLong, s"partitioned audit got $pTotal rows")
    // a dir with no parquet anywhere fails descriptively
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tmp/none/sub"))
    val e = intercept[IllegalArgumentException] {
      Layout.parquetStats(spark, s"$tmp/none")
    }
    assert(e.getMessage.contains("no .parquet"), s"got ${e.getMessage}")
  }
}
