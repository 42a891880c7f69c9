package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.graftbridge.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.Readers
import graft.ops.{Normalize, TimeOps}
import graft.pipeline.Pipelines

/** Golden end-to-end: synthetic watch JSON (FIXTURES.md §1) through
  * E1 reformat → E2 filter → E3 categorize. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Epoch ms for 2024-01-01 00:00:00 UTC. */
  private val Day = 1704067200000L

  private def writeFixture(): Path = {
    val dir = Files.createTempDirectory("graft_fixture")
    def f(name: String, body: String): Unit =
      Files.writeString(dir.resolve(name), body)

    // records across one day: hr stream with a 25-flatline then varied;
    // sleep_total cumulative counter; steps; bp/activity/multi measure
    val hrFlat = (0 until 25).map(i =>
      s"""{"time": ${Day + i * 60000}, "kind": "hr", "data": [70]}""")
    val hrVar = (0 until 30).map(i =>
      s"""{"time": ${Day + 1500000 + i * 60000}, "kind": "hr",
         |"data": [${60 + (i % 13)}]}""".stripMargin.replace("\n", " "))
    val hrLow = // below the 50-floor: clamped by E2
      Seq(s"""{"time": ${Day + 3600000}, "kind": "hr", "data": [30]}""")
    val sleep = Seq( // counter: 0 → 120 → 120 (Q5) → reset next day
      s"""{"time": ${Day + 6 * 3600000}, "kind": "sleep_total", "data": [0]}""",
      s"""{"time": ${Day + 8 * 3600000}, "kind": "sleep_total", "data": [120]}""",
      s"""{"time": ${Day + 9 * 3600000}, "kind": "sleep_total", "data": [120]}""")
    val steps = Seq(
      s"""{"time": ${Day + 12 * 3600000}, "kind": "activity",
         |"data": [500, 20, 0, 0, 0]}""".stripMargin.replace("\n", " "),
      s"""{"time": ${Day + 13 * 3600000}, "kind": "activity",
         |"data": [0, 5, 10, 20, 1]}""".stripMargin.replace("\n", " "))
    val misc = Seq(
      s"""{"time": ${Day + 1000}, "kind": "bp", "data": [118, 76]}""",
      s"""{"time": ${Day + 2000}, "kind": "multi measure",
         |"data": [70, 97, [117, 75], 36.4]}""".stripMargin.replace("\n", " "),
      s"""{"time": ${Day + 3000}, "kind": "ppg", "data": [1, 2, 3]}""")

    f("watch 2024-01-01 08-00-00.json",
      (hrFlat ++ hrVar ++ misc).mkString("[", ",\n", "]"))
    f("watch 2024-01-01 20-00-00.json",
      (hrLow ++ sleep ++ steps).mkString("[", ",\n", "]"))
    dir
  }

  /** Synthetic wide acc: quiet during sleep hours (6-9h), active at
    * 12-13h. */
  private def accFixture() = (0 until 24 * 12).map { i =>
    val t = new java.sql.Timestamp(Day + i * 300000L)
    val g = if (i >= 144 && i < 156) 5.0 + (i % 3) else 1.0 + (i % 5) * 0.01
    (t, 0.0, 0.0, g, g)
  }.toDF("date_time", "acx", "acy", "acz", "g_force")
    .withColumn("seconds", graft.ops.TimeOps.secondsOfDay($"date_time"))
    .withColumn("bin", graft.ops.TimeOps.secondsBin($"seconds"))

  test("E1 reformat: jname tagging, offset, tagged-union normalize") {
    val dir = writeFixture()
    val out = Pipelines.reformat(spark, dir.toString)
    assert(out.offsetMs == 0L)
    val m = out.measurements.cache()
    // jname extracted from the file name pattern
    assert(m.select("jname").distinct().as[String].collect().toSet ==
      Set("2024-01-01 08-00-00", "2024-01-01 20-00-00"))
    val kinds = m.select("kind").distinct().as[String].collect().toSet
    assert(Set("hr", "bp_sys", "bp_dia", "step", "Calories", "mm_hr",
      "sleep_total").subsetOf(kinds))
    assert(out.ppg.count() == 1)
    // explicit offset shifts timestamps by the quantum
    val shifted = Pipelines.reformat(spark, dir.toString,
      offsetMs = Some(900000L))
    assert(shifted.offsetMs == 900000L)
    val t0 = m.agg(min("date_time")).head().getTimestamp(0).getTime
    val t1 = shifted.measurements.agg(min("date_time")).head()
      .getTimestamp(0).getTime
    assert(t1 - t0 == 900000L)
  }

  /** Runs `body` and returns how many of the Spark stages it ran read
    * files (a `FileScanRDD` in the stage's lineage) and how many bytes
    * those stages read. */
  private def fileScans(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scans.add(e.stageInfo.taskMetrics.inputMetrics.bytesRead)
    }
    Bus.drain(sc)
    sc.addSparkListener(listener)
    try { body; Bus.drain(sc) } finally sc.removeSparkListener(listener)
    (scans.size, scans.stream().mapToLong(_.longValue).sum)
  }

  test("E1 reformat: one parse of the raw JSON feeds all three outputs") {
    val dir = writeFixture().toString
    val (explicit, _) = fileScans {
      val out = Pipelines.reformat(spark, dir, offsetMs = Some(900000L))
      Seq(out.measurements, out.ppg, out.ac).foreach(_.collect())
    }
    assert(explicit == 1)
    // the derived offset's min-agg job is the parse the writes reuse
    val (derived, _) = fileScans {
      val out = Pipelines.reformat(spark, dir, refEpochMs = Some(Day))
      Seq(out.measurements, out.ppg, out.ac).foreach(_.collect())
    }
    assert(derived == 1)
  }

  test("E1 reformat: the parse reads each byte of the raw JSON once") {
    val dir = Files.createTempDirectory("graft_raw_json_bytes")
    // many non-string payloads: a JSON-source scan re-read each one's text
    val files = (0 until 3).map { k =>
      Files.writeString(dir.resolve(s"watch 2024-01-0${k + 1} 08-00-00.json"),
        (0 until 400).map(i => s"""{"time": ${Day + (k * 400 + i) * 1000L},
          | "kind": "hr", "data": [${60 + i % 40}.00]}""".stripMargin)
          .mkString("[", ",\n", "]"))
    }
    val fileBytes = files.map(Files.size(_)).sum
    val (scans, read) = fileScans {
      val out = Pipelines.reformat(spark, dir.toString)
      Seq(out.measurements, out.ppg, out.ac).foreach(_.collect())
    }
    assert(scans == 1)
    assert(read > 0 && read <= fileBytes,
      s"$read bytes read from $fileBytes bytes of files")
  }

  test("E1 reformat equals the uncheckpointed composition") {
    val dir = writeFixture()
    // the shared fixture has no accelerometer records
    Files.writeString(dir.resolve("watch 2024-01-01 09-00-00.json"),
      Seq("acx", "acy", "acz").zipWithIndex.map { case (k, i) =>
        s"""{"time": ${Day + 4000 + i}, "kind": "$k",
           |"data": [0.1, 0.2, 0.3, 0.4, 0.5]}""".stripMargin
          .replace("\n", " ") }.mkString("[", ",\n", "]"))
    val zone = "America/Los_Angeles"
    val got = Pipelines.reformat(spark, dir.toString,
      offsetMs = Some(2700000L), zone = zone)
    val raw = Readers.loadRawJson(spark, dir.toString)
    val converted = TimeOps.convertDateTime(raw, 2700000L, zone)
    assert(rowsOf(got.measurements) ==
      rowsOf(Normalize.normalizeMeasurements(converted)))
    assert(rowsOf(got.ppg) ==
      rowsOf(Normalize.waveforms(converted, Normalize.PpgKinds)))
    assert(rowsOf(got.ac) ==
      rowsOf(Normalize.waveforms(converted, Normalize.AccKinds)))
    assert(got.ppg.count() == 1 && got.ac.count() == 3)
    val ref = Day + 3 * 900000L + 1000L
    assert(Pipelines.reformat(spark, dir.toString, refEpochMs = Some(ref))
      .offsetMs == TimeOps.deriveClockOffsetMs(raw, ref))
  }

  test("E2 filter: flatline interval removal + vital clamping") {
    val dir = writeFixture()
    val m = Pipelines.reformat(spark, dir.toString).measurements.cache()
    val filtered = Pipelines.filterNoise(m).cache()
    // the 25-run flatline window is excluded; the 30 varied hr rows form
    // singleton include intervals and survive; the below-range hr=30 row
    // is outside every include interval (and below the clamp anyway)
    assert(filtered.filter($"kind" === "hr").count() == 30)
    assert(filtered.filter($"kind" === "hr" && $"data" < 50).count() == 0)
    // rows of other kinds outside the hr-derived include intervals are
    // dropped too — the reference's df_filter semantics (quirk Q9)
    assert(filtered.filter($"kind" === "step").count() == 0)
  }

  test("E3 categorize: sleep/rest/active timeline tiles without overlap") {
    val dir = writeFixture()
    val m = Pipelines.reformat(spark, dir.toString).measurements
    val acc = accFixture()
    val out = Pipelines.categorizeFull(m, acc)
    val timeline = out.timeline
    val band = out.band.collect()
    assert(band.length == 1)
    assert(band(0).getAs[Double]("lo") <= band(0).getAs[Double]("hi"))
    val cats = timeline.select("category").distinct().as[String]
      .collect().toSet
    assert(cats.contains("sleep"))
    assert(cats.exists(Set("high active", "low active", "rest")))
    // no two timeline intervals overlap (touching allowed)
    val ivs = timeline.select("start_time", "end_time").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime))
      .sortBy(_._1)
    ivs.sliding(2).foreach {
      case Array((_, e1), (s2, _)) => assert(e1 <= s2)
      case _ =>
    }
    // CompatMode.Faithful must produce the IDENTICAL timeline here: the
    // pipeline's intermediate frames satisfy the reference's implicit
    // assumptions (time-ordered, well-formed pairs, 5-minute bins), which
    // is exactly when the quirks are invisible. The dial only diverges on
    // inputs that violate those assumptions (OpsSpec matrix covers that).
    val faithfulOut = Pipelines.categorizeFull(m, acc,
      mode = graft.ops.CompatMode.Faithful)
    val a = timeline.select("category", "start_time", "end_time").collect()
      .map(_.toString).sorted.toSeq
    val b = faithfulOut.timeline.select("category", "start_time", "end_time")
      .collect().map(_.toString).sorted.toSeq
    assert(a == b, "Faithful diverged from Intended on assumption-clean input")
    out.unpersist()
    faithfulOut.unpersist()
  }

  test("E3 plan: the timeline plans at most 10 exchanges") {
    val dir = writeFixture()
    val m = Pipelines.reformat(spark, dir.toString).measurements
    val out = Pipelines.categorizeFull(m, accFixture())
    val plan = out.timeline.queryExecution.executedPlan
    out.unpersist()
    import org.apache.spark.sql.execution.SparkPlan
    def initial(p: SparkPlan): SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    // the persisted net sleep and categories count once each, with the
    // plans they hold
    val seen = scala.collection.mutable.Set.empty[AnyRef]
    def exchanges(p: SparkPlan): Int = initial(p).collect {
      case _: org.apache.spark.sql.execution.exchange.Exchange => 1
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
          if seen.add(c.relation.cacheBuilder) =>
        exchanges(c.relation.cacheBuilder.cachedPlan)
    }.sum
    val n = exchanges(plan)
    assert(n <= 10, s"$n exchanges in ${initial(plan).treeString}")
  }

  test("E2 filter: each subject keeps only its own include intervals") {
    // A's hr flatlines for 30 minutes while B's varies at the same instants,
    // so B's include intervals cover A's flatline
    def at(m: Int) = new java.sql.Timestamp(Day + m * 60000L)
    val rows =
      (0 until 30).map(i => ("A", at(i), "hr", 70.0)) ++
        (30 until 40).map(i => ("A", at(i), "hr", 60.0 + i % 7)) ++
        (0 until 40).map(i => ("B", at(i), "hr", 60.0 + i % 13)) ++
        Seq(("A", at(10), "spo2", 97.0), ("A", at(35), "spo2", 96.0),
          ("B", at(10), "spo2", 95.0))
    val m = rows.toDF("subject", "date_time", "kind", "data")
    def filtered(df: org.apache.spark.sql.DataFrame) =
      Pipelines.filterNoise(df, Seq("subject")).collect().map(_.toString)
        .sorted.toSeq
    val together = filtered(m)
    val alone = Seq("A", "B")
      .flatMap(s => filtered(m.filter($"subject" === s))).sorted
    assert(together == alone)
    val a = Pipelines.filterNoise(m, Seq("subject")).filter($"subject" === "A")
    assert(a.filter($"date_time" < at(30)).count() == 0)
    assert(a.count() == 11) // 10 varied hr rows and the spo2 row at 35
  }

  /** Measurements of one subject whose clock runs `shiftMin` minutes
    * after the others': a counter night from 02:00 to 07:00 (the 07:30
    * repeat is deduplicated), a step inside it and two equal steps at
    * 09:00 and 09:10. */
  private def subjectMeasurements(subject: String, shiftMin: Int) = {
    def at(h: Int, m: Int) =
      new java.sql.Timestamp(Day + (h * 60L + m + shiftMin) * 60000L)
    Seq((at(1, 0), "sleep_total", 0.0), (at(7, 0), "sleep_total", 300.0),
      (at(7, 30), "sleep_total", 300.0), (at(4, 0), "step", 30.0),
      (at(9, 0), "step", 500.0), (at(9, 10), "step", 500.0),
      (at(9, 5), "hr", 70.0))
      .map { case (t, k, v) => (subject, t, k, v) }
  }

  /** Wide acc of one subject every 20 s over [fromH, 12:00), g-force
    * around `scale`, three times `scale` from 09:00 to 09:30. */
  private def subjectAcc(subject: String, shiftMin: Int, scale: Double,
                         fromH: Int = 0) =
    (fromH * 180 until 12 * 180).map { k =>
      val t = new java.sql.Timestamp(Day + shiftMin * 60000L + k * 20000L)
      val active = k >= 9 * 180 && k < 9 * 180 + 90
      val g = scale * (if (active) 3.0 else 1.0 + (k * 37 % 101) / 1000.0)
      (subject, t, g)
    }

  private def cohort(subjects: Seq[(String, Int, Double, Int)]) = {
    val m = subjects.flatMap { case (s, sh, _, _) =>
      subjectMeasurements(s, sh) }
      .toDF("subject", "date_time", "kind", "data")
    val acc = subjects.flatMap { case (s, sh, scale, from) =>
      subjectAcc(s, sh, scale, from) }
      .toDF("subject", "date_time", "g_force")
    (m, acc)
  }

  test("E3 categorize: k subjects together equal each subject alone") {
    // different g-force scales and overlapping clocks; D wears the watch
    // only from 08:00, after its net sleep
    val subjects = Seq(("A", 0, 1.0, 0), ("B", 7, 2.0, 0), ("C", 13, 3.0, 0),
      ("D", 4, 1.0, 8))
    val (m, acc) = cohort(subjects)
    val key = Seq("subject")
    def outputs(o: Pipelines.CategorizeOut) =
      Seq(o.band, o.categorizedAcc, o.timeline).map(rowsOf)
    val together = Pipelines.categorizeFull(m, acc, key)
    val got = outputs(together)
    val alone = subjects.map { case (s, _, _, _) =>
      val o = Pipelines.categorizeFull(m.filter($"subject" === s),
        acc.filter($"subject" === s), key)
      try outputs(o) finally o.unpersist()
    }
    Seq("band", "categorizedAcc", "timeline").zipWithIndex.foreach {
      case (name, i) =>
        assert(got(i) == alone.flatMap(_(i)).sorted, name)
    }
    // each subject's own band: a pooled band would read one (lo, hi)
    val bands = together.band.as[(String, Double, Double)].collect()
      .sortBy(_._1).toSeq
    assert(bands.map(_._1) == Seq("A", "B", "C"))
    bands.foreach { case (s, lo, hi) =>
      val scale = subjects.find(_._1 == s).get._3
      assert(lo > scale && hi < scale * 1.1, s"$s: ($lo, $hi)")
    }
    // D has no acc sample inside its net sleep: no band, so no acc
    // windows, and its timeline is its net sleep alone
    assert(together.categorizedAcc.filter($"subject" === "D").isEmpty)
    val dTimeline = together.timeline.filter($"subject" === "D")
    assert(dTimeline.select("category").distinct().as[String].collect()
      .toSeq == Seq("sleep"))
    assert(rowsOf(dTimeline.drop("category")) == rowsOf(
      Pipelines.sleepIntervals(m.filter($"subject" === "D"), key)))
    assert(together.categorizedAcc.filter($"category" === "high active")
      .select("subject").distinct().count() == 3)
    together.unpersist()
  }

  test("E3 net sleep: one scan equals the merge-then-subtract formula") {
    import graft.ops.{CompatMode, Intervals, Windows}
    def at(m: Int) = new java.sql.Timestamp(Day + m * 60000L)
    // the formula before the one-scan form, composed here
    def formula(m: DataFrame, part: Seq[String], mode: CompatMode) = {
      def iv(df: DataFrame) =
        df.select((part :+ "start_time" :+ "end_time").map(col): _*)
      val counter = Windows.dedupConsecutive(
        m.filter($"kind" === "sleep_total"), "data", part, Seq("date_time"))
      val prelim = Windows.counterIntervals(counter, "date_time", "data",
        part)
      val merged = CompatMode.mergeIntervals(iv(prelim), part, mode,
        seqCol = Some(unix_micros($"end_time")))
      val steps = Windows.trailingIntervals(m.filter($"kind" === "step"),
        "date_time", "data", windowMinutes = 10, keepCols = part)
      Intervals.subtractIntervals(merged, iv(steps), part)
    }
    def check(rows: Seq[(String, Int, String, Double)], what: String) = {
      val m = rows.map { case (s, t, k, v) => (s, at(t), k, v) }
        .toDF("subject", "date_time", "kind", "data")
      for (mode <- Seq(CompatMode.Intended, CompatMode.Faithful)) {
        assert(rowsOf(Pipelines.sleepIntervals(m, Seq("subject"), mode)) ==
          rowsOf(formula(m, Seq("subject"), mode)), s"$what, keyed, $mode")
        val a = m.filter($"subject" === "a").drop("subject")
        assert(rowsOf(Pipelines.sleepIntervals(a, Nil, mode)) ==
          rowsOf(formula(a, Nil, mode)), s"$what, unkeyed, $mode")
      }
      m
    }
    // counter intervals: degenerate [60, 60] (the first reading), nested
    // [110, 120] inside [-70, 180], and [180, 240] touching it; a step
    // window straddling the night's end and two equal steps 5 and 15
    // minutes apart, neither deduplicated
    val night = Seq(("a", 60, "sleep_total", 0.0),
      ("a", 120, "sleep_total", 10.0), ("a", 180, "sleep_total", 260.0),
      ("a", 240, "sleep_total", 320.0), ("a", 250, "sleep_total", 320.0),
      ("a", 245, "step", 12.0), ("a", 100, "step", 40.0),
      ("a", 105, "step", 40.0), ("a", 120, "step", 40.0),
      ("a", 150, "step", 0.0),
      ("b", 30, "sleep_total", 100.0), ("b", 60, "sleep_total", 100.0),
      ("b", 90, "sleep_total", 130.0), ("b", 95, "step", 5.0))
    val m = check(night, "edges")
    val a = rowsOf(Pipelines.sleepIntervals(
      m.filter($"subject" === "a"), Seq("subject")))
    assert(a == Seq(
      Seq("a", at(-70), at(90)), Seq("a", at(105), at(110)),
      Seq("a", at(120), at(235))).map(_.mkString("[", ",", "]")))
    // random counters and steps, with resets after 12 h gaps
    val rnd = new scala.util.Random(606)
    for (round <- 0 until 4) {
      val rows = Seq("a", "b").flatMap { s =>
        var t = 0; var c = 0.0
        Seq.fill(12) {
          t += 5 * (1 + rnd.nextInt(if (rnd.nextInt(10) == 0) 200 else 12))
          c = if (rnd.nextInt(5) == 0) 5.0 * rnd.nextInt(10)
            else c + 5 * rnd.nextInt(4)
          (s, t, "sleep_total", c)
        } ++ Seq.fill(6)((s, 5 * rnd.nextInt(200), "step",
          5.0 * rnd.nextInt(3)))
      }
      check(rows, s"random round $round")
    }
  }

  test("E2 filter: the binned join keeps what the nested-loop join kept") {
    import graft.ops.Filters
    def at(m: Int, s: Int = 0) =
      new java.sql.Timestamp(Day + m * 60000L + s * 1000L)
    // the nested-loop form the filter used before, composed here
    def nestedLoop(m: DataFrame, part: Seq[String]) = {
      val include = Filters.flatlineIntervals(
          m.filter($"kind" === "hr"), "date_time", "data", part)
        .filter($"include")
        .select((part :+ "start_time" :+ "end_time").map(col): _*)
      Filters.clampKinds(
        Filters.pointInInterval(m, include, "date_time", part),
        Filters.VitalRanges)
    }
    // A: an hr island of 15 equal readings from 00:52 to 01:06 crosses the
    // hour; spo2 rows on both of its endpoints, inside it, a second past
    // its end and on a singleton island; a 25-reading flatline drops.
    // B: varied hr at the same instants, so B's islands cover A's rows
    val rows =
      (52 until 67).map(i => ("A", at(i), "hr", 70.0)) ++
        (67 until 80).map(i => ("A", at(i), "hr", 60.0 + i % 7)) ++
        (100 until 125).map(i => ("A", at(i), "hr", 65.0)) ++
        Seq(("A", at(52), "spo2", 97.0), ("A", at(66), "spo2", 96.0),
          ("A", at(60, 30), "spo2", 95.0), ("A", at(66, 1), "spo2", 94.0),
          ("A", at(70), "spo2", 93.0), ("A", at(110), "spo2", 92.0),
          ("A", at(70), "bp_sys", 70.0)) ++
        (50 until 130).map(i => ("B", at(i), "hr", 60.0 + i % 13)) ++
        Seq(("B", at(66, 1), "spo2", 98.0), ("B", at(110), "spo2", 91.0))
    val m = rows.toDF("subject", "date_time", "kind", "data")
    assert(rowsOf(Pipelines.filterNoise(m, Seq("subject"))) ==
      rowsOf(nestedLoop(m, Seq("subject"))))
    val a = m.filter($"subject" === "A").drop("subject")
    val keptA = Pipelines.filterNoise(a)
    assert(rowsOf(keptA) == rowsOf(nestedLoop(a, Nil)))
    assert(keptA.filter($"kind" === "spo2").select("data").as[Double]
      .collect().sorted.toSeq == Seq(93.0, 95.0, 96.0, 97.0))
  }

  test("E2 filter: the executed plan joins without a nested loop") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val m = Pipelines.reformat(spark, writeFixture().toString).measurements
    for (part <- Seq(Nil, Seq("jname"))) {
      val filtered = Pipelines.filterNoise(m, part)
      filtered.collect()
      val plan = filtered.queryExecution.executedPlan
      val helper = new AdaptiveSparkPlanHelper {}
      assert(helper.collect(plan) {
        case j: BroadcastNestedLoopJoinExec => j }.isEmpty, plan.treeString)
    }
  }

  test("E3 categorize: no job while the frames are built, the outputs " +
    "share one net sleep, and unpersist releases it") {
    import org.apache.spark.scheduler.SparkListenerJobStart
    val sc = spark.sparkContext
    val (m, acc) = cohort(Seq(("A", 0, 1.0, 0)))
    // earlier suites may leave cached frames behind
    spark.catalog.clearCache()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Bus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = Pipelines.categorizeFull(m, acc)
      Bus.drain(sc)
      assert(jobs.get == 0, "jobs fired while the frames were built")
      out.categorizedAcc.collect()
      out.timeline.collect()
      Bus.drain(sc)
      // measured when the net sleep and categories became shared: 11
      assert(jobs.get <= 11, s"${jobs.get} jobs")
      assert(!spark.sharedState.cacheManager.isEmpty)
      out.unpersist()
      assert(spark.sharedState.cacheManager.isEmpty)
    } finally sc.removeSparkListener(listener)
  }

  test("E3 categorize: the shared frames go once the outputs are " +
    "unreferenced") {
    val (m, acc) = cohort(Seq(("A", 0, 1.0, 0)))
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    // the outputs live only inside this call
    def writeAndDrop(): Unit = {
      val out = Pipelines.categorizeFull(m, acc)
      out.categorizedAcc.collect()
      out.timeline.collect()
      assert(!cache.isEmpty)
    }
    writeAndDrop()
    var polls = 0
    while (!cache.isEmpty && polls < 100) {
      System.gc(); Thread.sleep(100); polls += 1
    }
    assert(cache.isEmpty, s"still cached after $polls collections")
  }

  test("E4 curate: gate, exact dedup, near-dup, split, decontamination") {
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "it runs far away to the old stone house by the river bank"
    val docs = Seq(
      (10L, good),
      (11L, good.toUpperCase),           // normalized-exact dup of 10
      (12L, good.replace("river", "sea")), // near-dup of 10
      (13L, "zzz@@@ qq##"),              // low quality -> gated
      (14L, null.asInstanceOf[String]),  // null text -> gated
      (15L, "an entirely different but still quite reasonable english " +
        "sentence that it is for the test and with many of the words")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    val out = Pipelines.curate(docs, minJaccard = 0.5).cache()
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(13L) && !ids.contains(14L)) // gated
    assert(ids.contains(10L) && !ids.contains(11L))  // exact dedup
    assert(!ids.contains(12L))                       // near-dup dedup
    assert(ids.contains(15L))
    // split column partitions the survivors
    assert(out.select("split").as[String].collect()
      .forall(Set("train", "val", "test")))
    // decontamination holds as a property of the output: no surviving
    // train doc shares an 8-gram with any surviving test doc
    val train = out.filter($"split" === "train")
    val clean = graft.text.TextOps.decontaminate(train,
      out.filter($"split" === "test"))
    assert(clean.count() == train.count())

    // incremental mode: a prior corpus containing doc 15's text removes
    // it before curation; the remaining survivors are unchanged
    val prior = Seq((100L, docs.filter($"doc_id" === 15L)
      .select("text").as[String].head())).toDF("doc_id", "text")
    val inc = Pipelines.curate(docs, minJaccard = 0.5,
      priorCorpus = Some(prior))
    val incIds = inc.select("doc_id").as[Long].collect().toSet
    assert(!incIds.contains(15L) && incIds.contains(10L), s"got $incIds")
    out.unpersist()

    // compression floor: looping spam whose character mix passes the
    // quality gate still deflates to almost nothing (low ratio) — the
    // floor drops it, the genuine docs survive, and the default (None)
    // changes nothing
    // vocabulary disjoint from `good` so near-dup dedup cannot be the
    // thing that drops it — only the compression cap can
    val spam = "click here to win the best new prize online right now " * 20
    val docs2 = docs.unionByName(Seq((16L, spam)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text")))
    val uncapped = Pipelines.curate(docs2, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(uncapped.contains(16L), s"spam should pass uncapped: $uncapped")
    val floored = Pipelines.curate(docs2, minJaccard = 0.5,
      minCompressionRatio = Some(0.2))
      .select("doc_id").as[Long].collect().toSet
    assert(!floored.contains(16L) && floored.contains(10L) &&
      floored.contains(15L), s"got $floored")
  }

  test("E4 curate langRouter: the multilingual router gates by the " +
    "requested language, so curate(lang = \"de\") keeps German and " +
    "drops English; the default heuristic path is untouched") {
    val docs = Seq(
      (20L, "der schnelle zug und die alte brücke sind ein gutes " +
        "beispiel und die fahrt war schön und der tag auch"),
      (21L, "the quick brown fox jumps over the lazy dog and then " +
        "it runs far away to the old stone house by the river bank"),
      (22L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("x")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(coalesce($"text", lit(""))))
    // route German: quality floor 0 (the stopword score is English-
    // centric by design; per-lang thresholds are the caller's knob)
    val de = Pipelines.curate(docs, minQuality = 0.0, langRouter = true,
      lang = "de").select("doc_id").as[Long].collect().toSet
    assert(de == Set(20L), s"got $de")
    val en = Pipelines.curate(docs, minQuality = 0.0, langRouter = true)
      .select("doc_id").as[Long].collect().toSet
    assert(en == Set(21L), s"got $en")
    // default path: langIdEn heuristic (routes only en-vs-other)
    val legacy = Pipelines.curate(docs, minQuality = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(legacy == Set(21L), s"got $legacy")
  }

  test("E4 curate tokenBudget: the best-quality doc fills the budget, " +
    "the rest drop; no budget keeps everything") {
    import graft.text.TextOps
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then it " +
        "runs far away to the old stone house by the river bank where " +
        "it rests for a while in the shade of the tall trees"), // high q
      (2L, "an entirely different but still quite reasonable english " +
        "sentence that it is for the test")) // passes the gate, lower q
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    // precondition: doc 1 strictly outranks doc 2 on rounded quality
    val q = docs.select($"doc_id",
        round(TextOps.qualityScore($"text"), 6).as("q"),
        TextOps.tokenCount($"text").cast("long").as("t"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    assert(q(1L)._1 > q(2L)._1, s"fixture must order by quality: $q")
    val all = Pipelines.curate(docs).select("doc_id").as[Long]
      .collect().toSet
    assert(all == Set(1L, 2L))
    // budget = doc 1's tokens: doc 1 fits exactly, doc 2 overflows
    val kept = Pipelines.curate(docs, tokenBudget = Some(q(1L)._2))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L), s"got $kept")
  }

  test("E4 curate fuzzyPrior: a one-word-edited re-crawl survives the " +
    "exact digest gate and is dropped by the fuzzy prior gate") {
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "it runs far away to the old stone house by the river bank"
    val docs = Seq(
      (1L, base.replace("river", "harbor")), // near-dup of the prior doc
      (2L, "an entirely different but still quite reasonable english " +
        "sentence that it is for the test and with many of the words"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    val prior = Seq((100L, base)).toDF("doc_id", "text")
    // exact incremental: the edit changes the digest, so doc 1 survives
    val exact = Pipelines.curate(docs, priorCorpus = Some(prior))
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(1L, 2L), s"got $exact")
    // fuzzy prior gate: the near-dup re-crawl drops, fresh content stays
    val fuzzy = Pipelines.curate(docs, priorCorpus = Some(prior),
      fuzzyPrior = true, fuzzyMinJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(fuzzy == Set(2L), s"got $fuzzy")
  }

  test("E4 curate fuzzyDecontaminate: a paraphrased eval leak survives " +
    "the exact 8-gram pass and is dropped by the fuzzy pass") {
    val words = ("the quick brown fox jumps over a lazy dog while morning " +
      "light spreads slowly across the quiet valley and birds begin their " +
      "early songs near the old stone bridge where water runs clear under " +
      "tall green trees as farmers walk along narrow paths toward distant " +
      "fields carrying baskets full of fresh bread and ripe fruit for the " +
      "busy market day ahead").split(" ")
    val evalText = words.mkString(" ")
    // change every 8th word: the longest unchanged word run is 7 < 8, so
    // the exact pass sees no shared 8-gram; ~5/8 of the 3-shingles
    // survive, i.e. exact Jaccard ≈ 0.45 — a light paraphrase
    val leakText = words.zipWithIndex
      .map { case (w, i) => if (i % 8 == 7) w + "x" else w }.mkString(" ")
    val docs = Seq(
      (8L, evalText), // hashSplit(8) = test
      (1L, leakText), // hashSplit(1) = train — the paraphrased leak
      (10L, "an entirely different but still quite reasonable english " +
        "sentence that it is for the test and with many of the words")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    val exactOnly = Pipelines.curate(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(exactOnly == Set(8L, 1L, 10L),
      s"exact-only curate should keep the paraphrased leak: $exactOnly")
    val fuzzy = Pipelines.curate(docs, fuzzyDecontaminate = true,
      fuzzyMinJaccard = 0.3, fuzzyNumHashes = 16, fuzzyBands = 16)
      .select("doc_id").as[Long].collect().toSet
    assert(fuzzy == Set(8L, 10L),
      s"the fuzzy pass should drop the leak and keep the rest: $fuzzy")
  }

  test("E4 curate maxPerDomain: the hot domain is capped to k docs in " +
    "deterministic md5 order; tail domains untouched") {
    val texts = Seq(
      "the gray cat sleeps near the warm fire while rain falls on the " +
        "roof of the house outside tonight",
      "a young engineer builds a small wooden boat to sail across the " +
        "calm lake in the middle of summer",
      "fresh bread and sweet honey make a fine breakfast before the " +
        "long walk through the old town",
      "the old library keeps rare maps of distant coasts drawn by " +
        "careful sailors a long time ago",
      "green hills roll toward the sea where the white birds circle " +
        "above the small fishing boats of the bay",
      "a quiet garden grows behind the stone wall full of roses and " +
        "tall yellow flowers in the sun",
      "winter snow covers the narrow street as children pull wooden " +
        "sleds up the short hill in town")
    val docs = texts.zipWithIndex.map { case (t, i) =>
      val url = if (i < 6) s"https://sub$i.farm.com/p$i"
                else "https://www.ham.org/p"
      (i.toLong + 1, t, url)
    }.toDF("doc_id", "text", "url")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    // no cap: all seven pass the gates and survive
    val uncapped = Pipelines.curate(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(uncapped.size == 7, s"got $uncapped")
    // cap 2: farm.com (6 subdomain hosts = ONE registrable domain)
    // keeps exactly 2; ham.org is under the cap and untouched
    val kept = Pipelines.curate(docs, maxPerDomain = Some(2))
      .select("doc_id", "url").as[(Long, String)].collect()
    assert(kept.count(_._2.contains("farm.com")) == 2, kept.mkString(","))
    assert(kept.count(_._2.contains("ham.org")) == 1, kept.mkString(","))
    // the md5 order makes the sample reproducible run-over-run
    val again = Pipelines.curate(docs, maxPerDomain = Some(2))
      .select("doc_id").as[Long].collect().toSet
    assert(again == kept.map(_._1).toSet)

    // PSL vs heuristic grouping differential: github.io user sites are
    // ONE registrable domain under the heuristic (cap 1 keeps one doc)
    // but EACH their own under the PSL private-domain rule (both kept)
    val ghDocs = docs.limit(2)
      .withColumn("url",
        concat(lit("https://user"), $"doc_id", lit(".github.io/p")))
    val heur = Pipelines.curate(ghDocs, maxPerDomain = Some(1))
    assert(heur.count() == 1, "heuristic: github.io is one domain")
    val psl = Pipelines.curate(ghDocs, maxPerDomain = Some(1),
      domainSuffixes = Some(graft.text.UrlOps.PslSuffixes))
    assert(psl.count() == 2, "PSL: each user site is its own domain")
  }

  test("E4 curate blocklist and license gates: unsafe words and " +
    "disallowed licenses drop at stage 1") {
    val docs = Seq(
      (20L, "the quick brown fox jumps over the lazy dog and then it " +
        "runs far away to the old stone house by the river bank"),
      (21L, "this is a damnword heavy sentence but it is still made of " +
        "many plain english words that the gate must count and judge"),
      (22L, "released under the mit license this tool is for the many " +
        "people who want it and use it with joy every single day"),
      (23L, "gnu general public license applies to this work and it is " +
        "the terms that the project has chosen for all of the code"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    // default: no blocklist, no license policy — everything survives
    val all = Pipelines.curate(docs, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(all == Set(20L, 21L, 22L, 23L), s"got $all")
    // zero-tolerance blocklist drops only the unsafe doc
    val safe = Pipelines.curate(docs, minJaccard = 0.5,
      blockWords = Some(Seq("damnword")))
      .select("doc_id").as[Long].collect().toSet
    assert(safe == Set(20L, 22L, 23L), s"got $safe")
    // a tolerance above the doc's one-in-22 fraction keeps it
    val tol = Pipelines.curate(docs, minJaccard = 0.5,
      blockWords = Some(Seq("damnword")), maxBlocklistFraction = 0.1)
      .select("doc_id").as[Long].collect().toSet
    assert(tol.contains(21L), s"got $tol")
    // license allow-list: untagged prose tags 'unknown'; excluding gpl
    // drops exactly the GPL-tagged doc
    val lic = Pipelines.curate(docs, minJaccard = 0.5,
      allowLicenses = Some(Seq("mit", "unknown")))
      .select("doc_id").as[Long].collect().toSet
    assert(lic == Set(20L, 21L, 22L), s"got $lic")
  }

  test("E4 curate --drop-damaged: replacement-char and control-char docs " +
    "drop; tab/newline and clean prose survive") {
    val docs = Seq( // four UNRELATED texts: near-dup must not collapse
      (30L, "the quick brown fox jumps over the lazy dog and then it " +
        "runs far away to the old stone house by the river bank"),
      (31L, "a slow grey owl glides over the quiet field at night and " +
        "waits for the small mouse to leave its broken\uFFFDtail hole"),
      (32L, "ctrl\u0007 the tall green tree stands near the wide road " +
        "where many people walk to the market in the early morning"),
      (33L, "rain falls on the red roof all day\tand the children " +
        "watch it\nfrom the warm kitchen with a cup of hot tea"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    // default keeps damage (opt-in gate)
    val all = Pipelines.curate(docs, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(all == Set(30L, 31L, 32L, 33L), s"got $all")
    val gated = Pipelines.curate(docs, minJaccard = 0.5,
      dropDamaged = true)
      .select("doc_id").as[Long].collect().toSet
    assert(gated == Set(30L, 33L), s"got $gated")
  }

  test("E4 curate --c4-lines: nav-bar lines are stripped before scoring " +
    "and a brace doc drops; default keeps raw text") {
    val keeper = "The quick brown fox jumps over the lazy dog and then " +
      "it runs far away to the old stone house by the river bank today."
    val docs = Seq(
      (40L, "Home | About | Contact\n" + keeper), // nav line to strip
      (41L, "a slow grey owl glides over the quiet field at night and " +
        "waits for the small mouse to come out of its hole there soon."),
      (42L, "var config = {\nRain falls on the red roof all day long " +
        "and the children watch it from the warm kitchen with hot tea."))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    // default: raw text kept verbatim, all three docs survive
    val raw = Pipelines.curate(docs, minJaccard = 0.5)
    assert(raw.count() == 3)
    assert(raw.filter($"doc_id" === 40L).select("text").as[String]
      .head().startsWith("Home | About"))
    // --c4-lines: doc 40's nav line is gone, doc 42 (brace) drops whole
    val cleaned = Pipelines.curate(docs, minJaccard = 0.5, c4Lines = true)
    val ids = cleaned.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(40L, 41L), s"got $ids")
    assert(cleaned.filter($"doc_id" === 40L).select("text").as[String]
      .head() == keeper)
  }

  test("E4 curate --c4-lines: building it fires no job beyond the " +
    "near-dup pass's") {
    import org.apache.spark.scheduler.SparkListenerJobStart
    val sc = spark.sparkContext
    // the C4 rule keeps every line, so both calls dedup the same text
    val docs = (0L until 40L).map { i =>
      (i, s"the subject$i and the object$i of the story$i went home.\n" +
        s"the friend$i and the helper$i stayed in the year$i of the era$i.")
    }.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    def buildJobs(c4Lines: Boolean): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      Bus.drain(sc)
      sc.addSparkListener(listener)
      try {
        Pipelines.curate(docs, minJaccard = 0.5, c4Lines = c4Lines)
        Bus.drain(sc)
      } finally sc.removeSparkListener(listener)
      jobs.get
    }
    val plain = buildJobs(c4Lines = false)
    assert(buildJobs(c4Lines = true) == plain)
  }

  test("E4 curate --lang-model: a trained NB router replaces the " +
    "langIdEn heuristic and keeps the requested label only") {
    import graft.text.TextOps
    val train = Seq(
      (1L, "en", "the house stands by the river and the trees grow tall"),
      (2L, "fr", "la maison se trouve pres de la riviere et les arbres"))
      .toDF("doc_id", "lang", "text")
    val model = TextOps.naiveBayesTrain(train, labelCol = "lang")
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and the river " +
        "flows past the old house where the trees grow"),
      (11L, "la riviere coule pres de la vieille maison et les grands " +
        "arbres poussent dans le jardin de la maison"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("x")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    val fr = Pipelines.curate(docs, minQuality = 0.0, minJaccard = 0.9,
      langModel = Some(model), lang = "fr")
    assert(fr.select("doc_id").as[Long].collect().toSeq == Seq(11L))
    // heuristic default at the same knobs keeps the English doc instead
    val en = Pipelines.curate(docs, minQuality = 0.0, minJaccard = 0.9)
    assert(en.select("doc_id").as[Long].collect().toSeq == Seq(10L))
  }

  test("trainAndEncodeBpe: merges learned from the corpus drive the " +
    "encode end-to-end; merge-free corpus degrades to char segmentation") {
    val docs = Seq((1L, "the the the them")).toDF("doc_id", "text")
    val got = Pipelines.trainAndEncodeBpe(docs, numMerges = 3)
      .head().getSeq[String](1).toSeq
    // learned merges (h,e) (t,he) (the,m) — see ExtensionsSpec bpeTrain
    assert(got == Seq("the", "the", "the", "them"), s"got $got")
    val bare = Seq((1L, "a b")).toDF("doc_id", "text")
    val none = Pipelines.trainAndEncodeBpe(bare, numMerges = 3)
      .head().getSeq[String](1).toSeq
    assert(none == Seq("a", "b"), s"got $none")
  }

  test("E4 curate --paragraph-dedup: a shared footer paragraph " +
    "collapses to its first owner; shell docs drop") {
    val footer = "Subscribe to our newsletter for updates and offers " +
      "delivered to your inbox every single week of the whole year."
    val docs = Seq(
      (50L, "The quick brown fox jumps over the lazy dog and then it " +
        "runs far away to the old stone house by the river bank.\n\n" +
        footer),
      (51L, "A slow grey owl glides over the quiet field at night and " +
        "waits for the small mouse to come out of its hole.\n\n" + footer),
      (52L, footer)) // nothing but the shared footer: shell
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    // default: all three survive (doc-level dedup sees distinct texts)
    assert(Pipelines.curate(docs, minJaccard = 0.9).count() == 3)
    // paragraph dedup: doc 50 keeps the footer (first owner), doc 51
    // loses it, doc 52 loses everything and drops
    val got = Pipelines.curate(docs, minJaccard = 0.9,
      dedupParagraphs = true)
    val byId = got.select("doc_id", "text").as[(Long, String)]
      .collect().toMap
    assert(byId.keySet == Set(50L, 51L), s"got ${byId.keySet}")
    assert(byId(50L).endsWith(footer))
    assert(!byId(51L).contains("newsletter"))
  }

  /** A seeded corpus for the curate specs: clean English docs, exact-dup
    * groups (case and whitespace variants), near-dup groups (two words of
    * 140 changed), junk the gate drops, and train docs that leak a test
    * doc (one copies a 12-word span, one paraphrases every ninth word).
    * Returns (doc_id, text, source, n_chars) rows and the ids curate must
    * drop: the junk, the leaks and the dup groups (one of each survives). */
  private def curateCorpus(seed: Long): (DataFrame, CorpusTruth) = {
    val rng = new scala.util.Random(seed)
    val stop = Array("the", "a", "and", "of", "to", "in", "is", "it",
      "that", "for", "on", "with", "as", "at", "by", "from", "this", "was")
    val words = Array.fill(400)((0 until 2 + rng.nextInt(3)).map(_ =>
      s"${"bcdfgklmnprstvwz"(rng.nextInt(16))}${"aeiou"(rng.nextInt(5))}")
      .mkString)
    // stopword share in twentieths: the quality score rises with it up
    // to 5, and near 3 a doc can fall under the English threshold
    def english(n: Int, stops: Int = 8): Array[String] = Array.fill(n)(
      if (rng.nextInt(20) < stops) stop(rng.nextInt(stop.length))
      else words(rng.nextInt(words.length)))
    var lastId = 100L
    def nextId(): Long = { lastId += 1; lastId }
    val clean = Seq.fill(40)((nextId(),
      english(100 + rng.nextInt(40), 4 + rng.nextInt(3)).mkString(" ")))
    val exactDups = (0 until 3).flatMap { _ =>
      val base = english(110).mkString(" ")
      Seq(base, base.toUpperCase, base.replace(" the ", "  the "))
        .map(t => (nextId(), t))
    }
    val nearDups = (0 until 3).flatMap { _ =>
      val base = english(140)
      (0 until 3).map { c =>
        val w = base.clone()
        if (c > 0) (0 until 2).foreach(_ =>
          w(5 + rng.nextInt(130)) = words(rng.nextInt(words.length)))
        (nextId(), w.mkString(" "))
      }
    }
    val junk = Seq((nextId(), "!! ## $$ %% && ** !! ##"),
      (nextId(), null.asInstanceOf[String]))
    def splitOf(ids: Seq[Long]): Map[Long, String] = ids.toDF("doc_id")
      .select($"doc_id", graft.text.TextOps.hashSplit($"doc_id"))
      .as[(Long, String)].collect().toMap
    val cleanSplit = splitOf(clean.map(_._1))
    val testDocs = clean.filter(d => cleanSplit(d._1) == "test")
    val trainIds = splitOf(Seq.fill(20)(nextId())).filter(_._2 == "train")
      .keys.toSeq.sorted
    require(testDocs.size >= 2 && trainIds.size >= 2)
    val leaks = testDocs.take(2).zip(trainIds).zipWithIndex.map {
      case (((_, text), lid), i) =>
        val sw = text.split(" ")
        (lid, if (i == 0) (english(40) ++ sw.slice(20, 32) ++ english(40))
            .mkString(" ")
          else sw.zipWithIndex.map { case (w, j) =>
            if (j % 9 == 4) words(rng.nextInt(words.length)) else w
          }.mkString(" "))
    }
    val docs = (clean ++ exactDups ++ nearDups ++ junk ++ leaks)
      .toDF("doc_id", "text")
      .withColumn("source", when($"doc_id" % 2 === 0, "a").otherwise("b"))
      .withColumn("n_chars", length($"text").cast("long"))
    (docs, CorpusTruth(junk.map(_._1).toSet, leaks.map(_._1).toSet,
      (exactDups ++ nearDups).map(_._1).grouped(3).map(_.toSet).toSeq))
  }

  private case class CorpusTruth(junk: Set[Long], leaks: Set[Long],
                                 dupGroups: Seq[Set[Long]])

  /** [[Pipelines.curate]] (minJaccard 0.8, fuzzyDecontaminate) written out
    * by hand from its operators, with no checkpoint between them and its
    * own fuzzy decontamination pass: the kept ids of the plain
    * composition. */
  private def handCurated(docs: DataFrame,
                          prior: Option[DataFrame] = None,
                          fuzzyPrior: Boolean = false,
                          adaptivePct: Option[Double] = None,
                          tokenBudget: Option[Long] = None,
                          fuzzyMinJaccard: Double = 0.5,
                          maxPerDomain: Option[Int] = None): Set[Long] = {
    import graft.dedup.Dedup
    import graft.text.TextOps
    val freshExact = prior.map(Dedup.incrementalNew(docs, _)).getOrElse(docs)
    val fresh = prior.filter(_ => fuzzyPrior)
      .map(Dedup.incrementalNewFuzzy(freshExact, _)).getOrElse(freshExact)
    val gated0 = fresh.filter($"text".isNotNull)
      .filter(TextOps.langIdEn($"text") === "en")
      .filter(TextOps.qualityScore($"text") >= 0.3)
    val gated = adaptivePct.map(p => TextOps.adaptiveQualityGate(gated0,
      pct = p).drop("quality", "thr")).getOrElse(gated0)
    val exact = gated.join(Dedup.normalized(gated)
      .select($"keep_id".as("doc_id")), Seq("doc_id"), "left_semi")
    val reps = Dedup.nearDupClusters(exact, minJaccard = 0.8)
      .filter($"doc_id" === $"cluster_id").select("doc_id")
    val deduped0 = exact.join(reps, Seq("doc_id"), "left_semi")
    val deduped = maxPerDomain.map(k => graft.text.UrlOps.capPerDomain(
      deduped0, "url", k)).getOrElse(deduped0)
    val budgeted = tokenBudget.map(b => deduped.join(
      TextOps.selectUnderTokenBudget(deduped, b).select("doc_id"),
      Seq("doc_id"), "left_semi")).getOrElse(deduped)
    val split = budgeted.withColumn("split", TextOps.hashSplit($"doc_id"))
    val test = split.filter($"split" === "test")
    val train = TextOps.decontaminate(split.filter($"split" === "train"),
      test)
    Dedup.decontaminateFuzzy(train, test, minJaccard = fuzzyMinJaccard)
      .unionByName(split.filter($"split" =!= "train"))
      .select("doc_id").as[Long].collect().toSet
  }

  test("E4 curate: one scan of the input feeds every stage") {
    val (docs, _) = curateCorpus(11)
    val dir = Files.createTempDirectory("graft_curate_scan")
      .resolve("docs").toString
    docs.coalesce(1).write.parquet(dir)
    val (scans, _) = fileScans {
      Pipelines.curate(spark.read.parquet(dir), fuzzyDecontaminate = true)
        .collect()
    }
    // before the gated docs were stored, the exact dedup, the near-dup
    // clustering and the split each scanned and gated the input again:
    // 12 stages read this fixture
    assert(scans == 1, s"$scans stages scanned the input")
  }

  test("E4 curate keeps the rows of its plain operator composition") {
    val (docs, truth) = curateCorpus(11)
    val kept = Pipelines.curate(docs, minJaccard = 0.8,
      fuzzyDecontaminate = true).select("doc_id").as[Long].collect().toSet
    assert(kept == handCurated(docs))
    // every stage has work to do on the fixture
    assert(kept.intersect(truth.junk ++ truth.leaks).isEmpty, kept)
    assert(truth.dupGroups.forall(g => kept.intersect(g).size == 1), kept)
    // a prior corpus with one doc verbatim and one with a word changed
    val Array(a, b) = docs.filter($"doc_id".isin(kept.toSeq: _*))
      .orderBy("doc_id").select("doc_id", "text").as[(Long, String)].take(2)
    val prior = Seq((9001L, a._2),
      (9002L, b._2.split(" ").updated(50, "zzz").mkString(" ")))
      .toDF("doc_id", "text")
    val withPrior = Pipelines.curate(docs, minJaccard = 0.8,
      fuzzyDecontaminate = true, priorCorpus = Some(prior),
      fuzzyPrior = true).select("doc_id").as[Long].collect().toSet
    assert(withPrior == handCurated(docs, Some(prior), fuzzyPrior = true))
    assert(withPrior.intersect(Set(a._1, b._1)).isEmpty)
    val adaptive = Pipelines.curate(docs, minJaccard = 0.8,
      fuzzyDecontaminate = true, adaptivePct = Some(0.3))
      .select("doc_id").as[Long].collect().toSet
    assert(adaptive == handCurated(docs, adaptivePct = Some(0.3)))
    assert(adaptive.size < kept.size)
    val budget = 3000L
    val budgeted = Pipelines.curate(docs, minJaccard = 0.8,
      fuzzyDecontaminate = true, tokenBudget = Some(budget))
      .select("doc_id").as[Long].collect().toSet
    assert(budgeted == handCurated(docs, tokenBudget = Some(budget)))
    assert(budgeted.nonEmpty && budgeted.size < kept.size)
  }

  /** Runs `body` and returns how many map sides of a MinHash banding
    * aggregation it ran: the banding's collect_list is the one
    * object-hash aggregate in the dedup stages, and its map side reads no
    * shuffle. */
  private def bandingStages(body: => Unit): Int = {
    val sc = spark.sparkContext
    val banding = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val rdds = e.stageInfo.rddInfos
        if (rdds.exists(_.scope.exists(_.name == "ObjectHashAggregate")) &&
            !rdds.exists(_.name == "ShuffledRowRDD")) banding.incrementAndGet()
      }
    }
    Bus.drain(sc)
    sc.addSparkListener(listener)
    try { body; Bus.drain(sc) } finally sc.removeSparkListener(listener)
    banding.get
  }

  /** Polls the collector until nothing is cached, and says whether that
    * happened: cache entries a result frame pins go once it is dropped. */
  private def cacheEmptiesAfterGc(): Boolean = {
    val cache = spark.sharedState.cacheManager
    var polls = 0
    while (!cache.isEmpty && polls < 50) {
      System.gc(); Thread.sleep(100); polls += 1
    }
    cache.isEmpty
  }

  test("nearDupClusters: the banding aggregate runs once per call") {
    val (docs, _) = curateCorpus(11)
    spark.catalog.clearCache()
    val banding = bandingStages {
      graft.dedup.Dedup.nearDupClusters(docs, minJaccard = 0.8).collect()
    }
    // the shingle cache's id set and the verify join each banded: 2
    assert(banding == 1, s"$banding banding stages")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("E4 curate: near-dup clustering and fuzzy decontamination share " +
    "one banding pass") {
    val (docs, _) = curateCorpus(11)
    spark.catalog.clearCache()
    val banding = bandingStages {
      Pipelines.curate(docs, fuzzyDecontaminate = true).collect()
    }
    // decontaminateFuzzy signed and banded train ∪ test again: 2
    assert(banding == 1, s"$banding banding stages")
    assert(cacheEmptiesAfterGc(), "still cached after 50 collections")
  }

  /** A paraphrase of `text` that changes every 8th word from `offset`:
    * no 8-gram survives, so only the fuzzy pass can catch it (exact
    * Jaccard about 0.45). Stopwords swap for other stopwords, so the
    * quality and language gates judge it as they judge the original. */
  private def fuzzyLeak(text: String, offset: Int): String = {
    val stop = Seq("the", "a", "and", "of", "to", "in", "is", "it")
    text.split(" ").zipWithIndex.map { case (w, i) =>
      if (i % 8 != offset) w
      else if (stop.contains(w)) stop((stop.indexOf(w) + 1) % stop.size)
      else w + "x"
    }.mkString(" ")
  }

  test("E4 curate's fuzzy pass over the near-dup pairs keeps the rows of " +
    "decontaminateFuzzy") {
    def kept(df: DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    for (seed <- 11 to 13) {
      val (docs, _) = curateCorpus(seed)
      assert(kept(Pipelines.curate(docs, fuzzyDecontaminate = true)) ==
        handCurated(docs), s"seed $seed")
    }
    // a fuzzy-only leak of a kept test doc, under a fresh train id
    val (docs0, _) = curateCorpus(11)
    val base = Pipelines.curate(docs0, fuzzyDecontaminate = true)
    val test = base.filter($"split" === "test")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val leakId = (5000L until 5100L).toDF("doc_id")
      .filter(graft.text.TextOps.hashSplit($"doc_id") === "train")
      .as[Long].head()
    // at Jaccard 0.45, 64 hashes in 16 bands make a pair a candidate about
    // half the time: take the first paraphrase the banding pairs up
    val leakText = (0 until 8).iterator.map(fuzzyLeak(test.head._2, _))
      .find(t => graft.dedup.Dedup.minhashCandidates(
        Seq((1L, test.head._2), (2L, t)).toDF("doc_id", "text"))
        .count() == 1)
      .get
    val leak = Seq((leakId, leakText)).toDF("doc_id", "text")
      .withColumn("source", lit("a"))
      .withColumn("n_chars", length($"text").cast("long"))
    // one domain holds the leaked test doc and a doc ahead of it in the
    // cap's md5 order, so a cap of 1 drops the test doc; every other doc
    // has a domain of its own
    val ahead = kept(base).filter(_ != test.head._1).toSeq.toDF("doc_id")
      .filter(md5($"doc_id".cast("string")) <
        md5(lit(test.head._1.toString)))
      .as[Long].head()
    val docs = docs0.unionByName(leak).withColumn("url",
      when($"doc_id".isin(test.head._1, ahead), lit("https://eval.org/p"))
        .otherwise(concat(lit("https://site"), $"doc_id", lit(".org/p"))))
    for (fuzzyMin <- Seq(0.3, 0.5, 0.9)) {
      val got = kept(Pipelines.curate(docs, fuzzyDecontaminate = true,
        fuzzyMinJaccard = fuzzyMin))
      assert(got == handCurated(docs, fuzzyMinJaccard = fuzzyMin), fuzzyMin)
      // only the threshold under the leak's Jaccard drops it
      assert(got.contains(leakId) == (fuzzyMin > 0.45), fuzzyMin)
    }
    // the cap drops the leaked test doc after the near-dup stage, so its
    // stored pair with the leak must not drop the leak
    val capped = kept(Pipelines.curate(docs, fuzzyDecontaminate = true,
      fuzzyMinJaccard = 0.3, maxPerDomain = Some(1)))
    assert(capped == handCurated(docs, fuzzyMinJaccard = 0.3,
      maxPerDomain = Some(1)))
    assert(!capped.contains(test.head._1) && capped.contains(leakId),
      capped)
    val budget = 3000L
    val budgeted = kept(Pipelines.curate(docs, fuzzyDecontaminate = true,
      fuzzyMinJaccard = 0.3, tokenBudget = Some(budget)))
    assert(budgeted == handCurated(docs, fuzzyMinJaccard = 0.3,
      tokenBudget = Some(budget)))
    assert(budgeted.nonEmpty)
  }

  test("decontaminateFuzzy and incrementalNewFuzzy take ids anywhere in " +
    "the long range") {
    import graft.dedup.Dedup
    val words = (1 to 80).map(i => s"word$i")
    val text = words.mkString(" ")
    val nearCopy = words.updated(40, "changed").mkString(" ")
    val other = (1 to 80).map(i => s"other$i").mkString(" ")
    val (big, small, mid) = (Long.MaxValue - 1, Long.MinValue + 1, 1L << 62)
    val train = Seq((big, text), (mid, other)).toDF("doc_id", "text")
    def ids(df: DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    // doubling any of these ids overflows a long
    val test = Seq((small, nearCopy)).toDF("doc_id", "text")
    assert(ids(Dedup.decontaminateFuzzy(train, test)) == Set(mid))
    assert(ids(Dedup.incrementalNewFuzzy(train, test)) == Set(mid))
    // the two sides may share id values
    val sharing = Seq((mid, nearCopy)).toDF("doc_id", "text")
    assert(ids(Dedup.decontaminateFuzzy(train, sharing)) == Set(mid))
    assert(ids(Dedup.decontaminateFuzzy(train, sharing, numHashes = 16,
      bands = 4, portable = true)) == Set(mid))
  }

  test("token-budget selection leaves nothing cached once its result " +
    "is dropped") {
    import graft.text.TextOps
    val (docs, _) = curateCorpus(11)
    spark.catalog.clearCache()
    def collectAndDrop(): Unit = {
      Pipelines.curate(docs, tokenBudget = Some(3000L)).collect()
      TextOps.selectUnderTokenBudget(docs.filter($"text".isNotNull), 3000L)
        .collect()
      TextOps.selectUnderTokenBudgetByGroup(docs.filter($"text".isNotNull),
        Map("a" -> 1000L, "b" -> 2000L)).collect()
    }
    collectAndDrop()
    assert(cacheEmptiesAfterGc(), "still cached after 50 collections")
  }

  test("connectedComponents names its build-time jobs and restores the " +
    "caller's job description") {
    import graft.dedup.Dedup
    import org.apache.spark.scheduler.SparkListenerJobStart
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        names.add(String.valueOf(e.properties.getProperty(key)))
    }
    val nodes = (1L to 6L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    def run(driverMaxEdges: Long): (Set[String], String, Set[String]) = {
      names.clear()
      Bus.drain(sc)
      sc.addSparkListener(listener)
      sc.setJobDescription("caller")
      try {
        val out = Dedup.connectedComponents(nodes, pairs,
          driverMaxEdges = driverMaxEdges)
        Bus.drain(sc)
        val built = names.toArray(Array.empty[String]).toSet
        val restored = sc.getLocalProperty(key)
        names.clear()
        assert(out.collect().length == 6)
        Bus.drain(sc)
        (built, restored, names.toArray(Array.empty[String]).toSet)
      } finally {
        sc.removeSparkListener(listener)
        sc.setJobDescription(null)
      }
    }
    val (driver, restored1, after1) = run(2000000L)
    assert(Set("connectedComponents: edge gate",
      "connectedComponents: driver union-find").subsetOf(driver), driver)
    assert(restored1 == "caller" && after1 == Set("caller"), after1)
    val (bsp, restored2, after2) = run(0L)
    assert(Set("connectedComponents: edge gate",
      "connectedComponents: label sum",
      "connectedComponents: label round").subsetOf(bsp), bsp)
    assert(!bsp.exists(_.contains("union-find")), bsp)
    assert(restored2 == "caller" && after2 == Set("caller"), after2)
    // building curate runs the near-dup pass's banding and verify
    // shuffles under the scored-pairs name
    val (docs, _) = curateCorpus(11)
    names.clear()
    Bus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      Pipelines.curate(docs, fuzzyDecontaminate = true)
      Bus.drain(sc)
      val built = names.toArray(Array.empty[String]).toSet
      assert(built.contains("nearDupClusters: scored pairs"), built)
      assert(sc.getLocalProperty(key) == "caller")
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
  }

  test("E5 releaseAudit: one call yields the four audit frames") {
    val base = "the quick brown fox jumps over the lazy dog near the " +
      "old stone house by the river bank in the quiet morning light"
    val docs = (0L until 30L).map { i =>
      (i, s"doc $i " + base + s" variant ${i % 3}")
    }.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", concat(lit("s"), $"doc_id" % 2))
      .withColumn("n_chars", length($"text"))
    val audit = Pipelines.releaseAudit(docs)
    val card = audit.card.collect()
    assert(card.length == 2) // one row per source
    // heavily-templated corpus: every doc shares the base shingles
    val bp = audit.boilerplate.collect()
    assert(bp.length == 30)
    assert(bp.forall(_.getAs[Double]("dup_fraction") > 0.5))
    // leakage frame has the crossing-pair schema (may legitimately be
    // empty on a tiny fixture); zipf is a single fitted row
    assert(audit.leakage.columns.toSeq ==
      Seq("id_a", "id_b", "split_a", "split_b", "est_jaccard"))
    val z = audit.zipf.head()
    assert(z.getAs[Long]("n_tokens") > 0)
    assert(z.getAs[Double]("slope") < 0.0) // frequencies decay with rank
  }

  test("E6 rewriteClean: self-repetition collapses first, cross-doc " +
    "boilerplate keeps one owner, shells drop") {
    val block = "0123456789abcdef0123456789abcdef" // one 32-char chunk
    val docs = Seq(
      // self-spam: repeats the shared block 4x — intra pass collapses it
      // to ONE copy before cross-doc ownership is decided
      (1L, block * 4),
      // owner candidate with original tail
      (2L, block + "original tail content here ok"),
      // pure boilerplate shell: nothing but the shared block — after
      // losing it to the owner, kept_frac = 0 → dropped
      (9L, block),
      (5L, "entirely original document text")).toDF("doc_id", "text")
    val got = Pipelines.rewriteClean(docs, minKeptFrac = 0.2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1 self-dedups to one block copy, then OWNS the block (min id)
    assert(got(1L) == ((block, 4L, 1L)))
    // doc 2 loses the block to doc 1 but keeps its tail
    assert(got(2L) == (("original tail content here ok", 2L, 1L)))
    // doc 5 untouched
    assert(got(5L) == (("entirely original document text", 1L, 1L)))
    // doc 9 kept nothing → filtered out entirely
    assert(!got.contains(9L))
  }

  test("E6 rewriteClean cdc: a SHIFTED boilerplate passage is removed " +
    "where the fixed stride keeps it whole") {
    val rnd = new scala.util.Random(11)
    val passage = (0 until 512)
      .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val docs = Seq(
      (1L, passage),
      (2L, "unique- " + passage)) // 8-char offset: every stride straddles
      .toDF("doc_id", "text")
    val stride = Pipelines.rewriteClean(docs, minKeptFrac = 0.1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // fixed stride: doc 2's copy is invisible (all chunks offset)
    assert(stride(2L).length >= passage.length,
      s"stride unexpectedly rewrote doc 2: ${stride(2L).length}")
    val cdc = Pipelines.rewriteClean(docs, minKeptFrac = 0.0, cdc = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cdc(1L) == passage) // owner keeps everything
    // CDC: doc 2 loses the re-aligned shared chunks, keeps its prefix
    assert(cdc(2L).length < passage.length / 2,
      s"cdc kept ${cdc(2L).length} chars of ${passage.length}")
    assert(cdc(2L).startsWith("unique- "))
  }

  test("E7 curateAssets: perceptual keepers survive, re-uploads and " +
    "copies drop, other modalities pass through") {
    import graft.multimodal.Multimodal
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) {
        val v = f(x, y); img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def wav(samples: Array[Int]): Array[Byte] = {
      val pcm = new Array[Byte](samples.length * 2)
      samples.indices.foreach { i =>
        pcm(2 * i) = (samples(i) & 0xff).toByte
        pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true,
        false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    def gfv(frames: Array[Byte]*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.write(Array[Byte]('G', 'F', 'V', '1'))
      out.writeInt(frames.length)
      frames.foreach { f => out.writeInt(f.length); out.write(f) }
      bos.toByteArray
    }
    val up = png((x, _) => x * 20)
    val diag = png((x, y) => if (x == y) 255 else 0)
    val anti = png((x, y) => if (x + y == 7) 255 else 0)
    val env = Array.tabulate(114)(i => if (i % 2 == 0) i * 20 else -i * 20)
    val assets = Seq(
      (1L, "image", up), (2L, "image", up),          // copy → keep 1
      (3L, "image", diag),                           // unique
      (4L, "audio", wav(env)),
      (5L, "audio", wav(env.map(_ * 2))),            // gain copy → keep 4
      (6L, "video", gfv(diag, up)),
      (7L, "video", gfv(anti, diag)),                // shares diag → drop
      (8L, "video", gfv(anti, anti)),                // shares with 7 only
      (9L, "text", Array[Byte](1, 2, 3)))            // passes through
      .toDF("asset_id", "modality", "payload")
    val kept = Pipelines.curateAssets(assets)
      .select("asset_id").collect().map(_.getLong(0)).sorted.toSeq
    // videos 6-7 (diag) and 7-8 (anti) chain into ONE component {6,7,8}
    // whose min-id representative 6 survives — cluster-keeper semantics,
    // not pairwise drops (a pairwise rule would also drop 8 with no
    // surviving copy of the anti content's cluster)
    assert(kept == Seq(1L, 3L, 4L, 6L, 9L))
  }

  test("E8 curateChat: gates drop malformed/short, dedup keeps first, " +
    "masks cover exactly the kept rows, DPO pairs drop degenerates") {
    import org.apache.spark.sql.functions._
    def conv(pairs: (String, String)*) = pairs.map {
      case (r, c) => (r, c) }
    val convs = Seq(
      (1L, conv("user" -> "hi", "assistant" -> "hello")), // kept
      (2L, conv("user" -> "hi", "assistant" -> "hello")), // dup of 1
      (3L, conv("assistant" -> "hi", "user" -> "ok",
        "assistant" -> "x")), // starts with assistant → dropped
      (4L, conv("user" -> "a", "user" -> "b",
        "assistant" -> "c")), // non-alternating → dropped
      (5L, conv("user" -> "only one turn")), // short → dropped
      (6L, conv("user" -> "different", "assistant" -> "conversation")))
      .toDF("doc_id", "raw")
      .select(col("doc_id"), expr(
        "transform(raw, x -> struct(x._1 AS role, x._2 AS content))")
        .as("turns"))
    val samples = Seq(
      (100L, 1L, "good answer", 2.0), (100L, 2L, "bad answer", -1.0),
      (200L, 3L, "same text", 1.0), (200L, 4L, "same text", 1.0))
      .toDF("prompt_id", "sample_id", "sample", "score")
    val got = Pipelines.curateChat(convs, samples = Some(samples))
    val sft = got.sft.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(sft == Seq(
      (1L, "<|user|>hi<|assistant|>hello"),
      (6L, "<|user|>different<|assistant|>conversation")))
    // masks exist for exactly the kept conversations, spans trainable
    val masks = got.masks.collect()
    assert(masks.map(_.getLong(0)).toSet == Set(1L, 6L))
    assert(masks.count(_.getAs[Int]("train") == 1) == 2)
    // DPO: prompt 100 ships (margin 3.0); prompt 200's tied identical
    // texts make a degenerate pair → audited out
    val pairs = got.pairs.get.collect()
      .map(r => (r.getAs[Long]("prompt_id"), r.getAs[String]("chosen"),
        r.getAs[String]("rejected"), r.getAs[Double]("margin")))
    assert(pairs.toSeq == Seq((100L, "good answer", "bad answer", 3.0)))
  }

  test("E9 exportTrainingShards: curate drops junk and near-dups, " +
    "survivors leave as TFRecord packs that round-trip bit for bit") {
    import graft.io.Tfrecord
    val proseA = "The quick brown fox jumps over the lazy dog and " +
      "then it runs far away to the old stone house by the river " +
      "bank where it sleeps through the warm afternoon."
    val proseB = "A slow grey owl glides over the quiet field at " +
      "night and waits patiently for the small mouse to come out " +
      "of its hole under the wooden fence near the barn."
    val docs = Seq(
      (60L, proseA),
      (61L, proseA + " Indeed."), // near-dup of 60: keep-first drops it
      (62L, proseB),
      (63L, "x")) // junk: quality gate drops it
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_e9").resolve("out").toString
    val manifest = Pipelines.exportTrainingShards(docs, dir,
      maxTokens = 64, nShards = 2).collect()
    assert(manifest.map(_.getLong(1)).sum == 2L,
      s"manifest: ${manifest.mkString(",")}")
    val recs = Tfrecord.readRecords(spark, dir).collect()
      .map(r => Tfrecord.parseExample(r.getAs[Array[Byte]]("payload"))
        .map(f => f._1 -> f).toMap)
    val byId = recs.map(m => (m("doc_id")._3.head, m)).toMap
    assert(byId.keySet == Set(60L, 62L), s"got ${byId.keySet}")
    assert(new String(byId(60L)("text")._2.head, "UTF-8") == proseA)
    assert(new String(byId(62L)("text")._2.head, "UTF-8") == proseB)
    // pack metadata travels in the records and is sane: positions
    // start at 1, token counts are the whitespace proxy
    recs.foreach { m =>
      assert(m("pack_pos")._3.head >= 1L)
      assert(m("n_tokens")._3.head > 10L)
      assert(m("shard")._3.head >= 0L && m("pack_id")._3.head >= 0L)
    }
  }

  test("curate unicodeNfc: a combining-mark twin of a composed doc " +
    "meets the exact-dedup digest only when the stage is ON; ASCII " +
    "output is byte-identical either way") {
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "it runs far away to the old stone house by the river bank"
    // the same accented sentence twice: composed vs combining marks
    val accented = "caf\u00e9 stories from the m\u00fcnchen archive " +
      "with many reasonable english words to pass the quality gate " +
      "and some more of them for the length floor it needs here"
    val decomposed = accented
      .replace("\u00e9", "e\u0301").replace("\u00fc", "u\u0308")
    val docs = Seq(
      (20L, accented), (21L, decomposed), (22L, good))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    val off = Pipelines.curate(docs, minJaccard = 0.95)
      .select("doc_id").as[Long].collect().toSet
    // near-dup banding may or may not catch the twins (same words) —
    // the EXACT digest must not: bytes differ
    val on = Pipelines.curate(docs, minJaccard = 0.95, unicodeNfc = true)
      .cache()
    val onIds = on.select("doc_id").as[Long].collect().toSet
    assert(onIds.contains(20L) && !onIds.contains(21L) &&
      onIds.contains(22L), s"got $onIds (off: $off)")
    // the surviving text is the CANONICAL form and n_chars refreshed
    val row = on.filter($"doc_id" === 20L)
      .select("text", "n_chars").head()
    assert(row.getString(0) == accented &&
      row.getLong(1) == accented.length.toLong)
    // streaming stage-1 mirrors the same canonicalization
    val s1 = graft.streaming.Streaming.curateStage1(
      docs.filter($"doc_id" === 21L), unicodeNfc = true)
      .select("text").head().getString(0)
    assert(s1 == accented)
  }

  test("curate urlBlockKeywords: the Aho-Corasick URL gate drops " +
    "flagged docs before any text work; absent option changes nothing") {
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "it runs far away to the old stone house by the river bank"
    val docs = Seq(
      (30L, good, "https://ok.example.com/article"),
      (31L, good + " extra words here", "https://x.example.com/casino/p"),
      (32L, "an entirely different but still quite reasonable english " +
        "sentence that it is for the test and with many of the words",
        "https://y.example.com/page"))
      .toDF("doc_id", "text", "url")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    val off = Pipelines.curate(docs, minJaccard = 0.95)
      .select("doc_id").as[Long].collect().toSet
    assert(off == Set(30L, 31L, 32L), s"got $off")
    val on = Pipelines.curate(docs, minJaccard = 0.95,
        urlBlockKeywords = Some(Seq("casino", "poker")))
      .select("doc_id").as[Long].collect().toSet
    assert(on == Set(30L, 32L), s"got $on")
  }

  test("curate fixEncoding: a mojibaked doc heals before any gate and " +
    "survives with repaired text; off, the damage gate would drop it; " +
    "streaming stage-1 mirrors the repair") {
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "it runs far away to the old stone house by the river bank"
    val damaged = good + " and donâ€™t forget the cafÃ©"
    val docs = Seq((50L, damaged)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    val on = Pipelines.curate(docs, fixEncoding = true)
      .select("text", "n_chars").head()
    assert(on.getString(0).endsWith("don’t forget the café"),
      s"got ${on.getString(0)}")
    // n_chars refreshed to the repaired length
    assert(on.getLong(1) == on.getString(0).length.toLong)
    // streaming stage-1 parity
    val s1 = graft.streaming.Streaming.curateStage1(docs,
      fixEncoding = true).select("text").head().getString(0)
    assert(s1 == on.getString(0))
  }

  test("curate canonicalCollapse: a tracking-param variant declaring " +
    "the same rel=canonical collapses to the min-id representative " +
    "only when the stage is on; E5 audit counts shift; missing " +
    "columns fail descriptively") {
    val a = "the quick brown fox jumps over the lazy dog and then " +
      "it runs far away to the old stone house by the river bank"
    val b = "an entirely different but still quite reasonable english " +
      "sentence that it is for the test and with many of the words"
    val canon = "<html><head><link rel=\"canonical\" " +
      "href=\"https://m.example.com/art\"></head><body>x</body></html>"
    val docs = Seq(
      (40L, a, "https://m.example.com/art", canon),
      // the mirror carries DIFFERENT body text (live ad rotation, no
      // shared 8-gram with the original) — neither the content hashes
      // nor decontamination would collapse it; the declared canonical does
      (41L, "the weekly promotional banner for the big sale event is " +
        "shown here with some extra words about the offer of today",
        "https://m.example.com/art?utm_source=feed", canon),
      (42L, b, "https://n.example.com/other",
        "<html><head></head><body>y</body></html>"))
      .toDF("doc_id", "text", "url", "html")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    val off = Pipelines.curate(docs, minJaccard = 0.95)
    val offIds = off.select("doc_id").as[Long].collect().toSet
    assert(offIds == Set(40L, 41L, 42L), s"got $offIds")
    val on = Pipelines.curate(docs, minJaccard = 0.95,
      canonicalCollapse = true)
    val onIds = on.select("doc_id").as[Long].collect().toSet
    assert(onIds == Set(40L, 42L), s"got $onIds")
    // E5 audit counts follow the corpus (one boilerplate row per doc)
    assert(Pipelines.releaseAudit(off).boilerplate.count() == 3L)
    assert(Pipelines.releaseAudit(on).boilerplate.count() == 2L)
    // the stage names what it needs when the frame can't carry it
    val e = intercept[IllegalArgumentException] {
      Pipelines.curate(docs.drop("html"), canonicalCollapse = true)
        .count()
    }
    assert(e.getMessage.contains("html"), s"got ${e.getMessage}")
  }

  test("curate whitened SemDeDup: embedding near-dups (paraphrases " +
    "MinHash can't see) collapse only when semDedupEmbs is passed — " +
    "PCA-whitened comparison space, informative axes only; docs " +
    "without an embedding row pass through") {
    def sentence(i: Long, s1: Long, s2: Long, s3: Long): String =
      s"the cat $i sat on the mat $s1 while the dog $s2 watched " +
        s"the bird $s3 resting in the tall tree."
    val baseDocs = (0L until 40L).map(i =>
      (i, sentence(i, i * 3 + 7, i * 5 + 11, i * 7 + 13)))
    val pairDocs = Seq(
      (100L, sentence(100L, 900L, 901L, 902L)),
      (101L, sentence(101L, 800L, 801L, 802L)))
    val noEmbDoc = Seq((200L, sentence(200L, 700L, 701L, 702L)))
    val docs = (baseDocs ++ pairDocs ++ noEmbDoc)
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    // the bb5a53d informative-axes fixture: a rank-2 cloud in 3-d
    // (third axis constant) with one near-identical pair
    val baseEmbs = (0L until 40L).map { i =>
      val t = (i - 20) * 4.0
      val u = (i % 7) - 3.0
      (i, Seq((t + 100.0).toFloat, u.toFloat, 1.0f))
    }
    val pairEmbs = Seq(
      (100L, Seq(120.0f, 2.0f, 1.0f)),
      (101L, Seq(120.0f, 2.01f, 1.0f)))
    val embs = (baseEmbs ++ pairEmbs).toDF("doc_id", "embedding")
    // off: every doc survives (texts are all distinct, no shared
    // 8-gram, no exact or banded near-dup)
    val offIds = Pipelines.curate(docs, minJaccard = 0.999)
      .select("doc_id").as[Long].collect().toSet
    assert(offIds.size == 43, s"got ${offIds.size}: $offIds")
    // on: the embedding pair lands in one whitened component — at
    // most one of (100, 101) survives (cosine is magnitude-blind, so
    // centered-collinear base points may legitimately join the
    // component; the invariant is the PAIR collapsing, and the
    // no-embedding doc passing through untouched)
    val onIds = Pipelines.curate(docs, minJaccard = 0.999,
        semDedupEmbs = Some(embs), semDedupMinCosine = 0.9999,
        semDedupWhiten = true, semDedupPcaK = 2, semDedupDim = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(!(onIds.contains(100L) && onIds.contains(101L)),
      s"pair survived whole: $onIds")
    assert(onIds.contains(200L), "no-embedding doc must pass through")
    assert(onIds.size < 43 && onIds.size >= 20, s"got ${onIds.size}")
    // a mis-shaped embedding frame is named, not silently ignored
    val e = intercept[IllegalArgumentException] {
      Pipelines.curate(docs, semDedupEmbs =
        Some(embs.withColumnRenamed("embedding", "vec"))).count()
    }
    assert(e.getMessage.contains("embedding"), s"got ${e.getMessage}")
  }

  test("curate semantic decontamination + perplexity gate: an " +
    "eval-embedding leak drops, a gibberish doc drops on reference " +
    "NLL, clean docs and no-evidence docs pass; missing doc vectors " +
    "are named") {
    import graft.text.TextOps
    def sentence(i: Long): String =
      s"the cat $i sat on the mat ${i * 3 + 7} while the dog " +
        s"${i * 5 + 11} watched the bird ${i * 7 + 13} in the tree."
    val docs = ((0L until 10L).map(i => (i, sentence(i))) ++ Seq(
      (100L, sentence(100L)), // embedding = the eval vector -> drop
      (300L, "zq vx qk jw zzp qqv xxj wwk zzq qvv")) // gibberish
      ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    val evalVec = Seq(9f, 1f, 0f)
    val embs = ((0L until 10L).map(i =>
      (i, Seq((i * 2 + 1).toFloat, (i % 3 - 1).toFloat, 5f))) :+
      ((100L, evalVec.toSeq))).toDF("doc_id", "embedding")
    val evalEmbs = Seq(Tuple1(evalVec)).toDF("embedding")
    // reference LM: the clean register (gibberish transitions unseen)
    val ref = (1000L until 1040L).map(i => (i, sentence(i)))
      .toDF("doc_id", "text")
    val kept = Pipelines.curate(docs, minJaccard = 0.999,
        semDeconEvalEmbs = Some(evalEmbs), semDeconEmbs = Some(embs),
        semDeconMinCosine = 0.99, semDedupDim = 3,
        pplRef = Some(ref), pplMaxNll = 4.5)
      .select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(100L), s"eval leak survived: $kept")
    assert(!kept.contains(300L), s"gibberish survived: $kept")
    assert((0L until 10L).forall(kept.contains), s"clean dropped: $kept")
    // eval embeddings without doc vectors are named
    val e = intercept[IllegalArgumentException] {
      Pipelines.curate(docs, semDeconEvalEmbs = Some(evalEmbs)).count()
    }
    assert(e.getMessage.contains("semDeconEmbs"), s"got ${e.getMessage}")
    // sanity on the gate statistic itself: the gibberish doc's NLL
    // under the reference model clears the clean docs' band
    val lm = TextOps.bigramLmTrain(ref)
    val nll = TextOps.bigramNllRef(docs, lm)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val cleanMax = (0L until 10L).map(nll).max
    assert(nll(300L) > 4.5 && cleanMax < 4.5,
      s"nll: gib=${nll(300L)} cleanMax=$cleanMax")
  }

  test("E10 frontierPlan: urlset entries robots-gated, captured URLs " +
    "anti-joined, per-host sequence, Crawl-delay wired into the " +
    "earliest polite fetch offset") {
    val sitemaps = Seq(
      "<urlset><url><loc>https://a.com/p/1</loc></url>" +
        "<url><loc>https://a.com/p/2</loc></url>" +
        "<url><loc>https://a.com/p/3</loc></url>" +
        "<url><loc>https://a.com/blocked/x</loc></url></urlset>",
      "<sitemapindex><sitemap><loc>https://a.com/more.xml</loc>" +
        "</sitemap></sitemapindex>",
      "<urlset><url><loc>https://b.com/q</loc></url></urlset>")
      .toDF("xml")
    val robots = Seq(
      ("a.com", "User-agent: *\nDisallow: /blocked\nCrawl-delay: 2\n"),
      ("b.com", "User-agent: *\n")).toDF("host", "body")
    val captured = Seq("https://a.com/p/2").toDF("url")
    val got = Pipelines.frontierPlan(sitemaps, robots, captured)
      .orderBy("host", "fetch_seq").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        Option(r.get(3)), Option(r.get(4)))).toSeq
    assert(got == Seq(
      ("a.com", 1, "https://a.com/p/1", Some(2.0), Some(0.0)),
      ("a.com", 2, "https://a.com/p/3", Some(2.0), Some(2.0)),
      ("b.com", 1, "https://b.com/q", None, None)), s"got $got")
  }

  test("E10 -> E6 golden: frontier -> archive fetch plan -> planned " +
    "WARC ingest -> curate, one fixture through all four stages — " +
    "digest dedup keeps the earliest capture, non-200 gated, each " +
    "archive one offset-ordered sweep, only planned records ingested") {
    // stage 1: discovery — sitemap + robots + captured -> frontier
    val sitemaps = Seq(
      "<urlset><url><loc>https://a.com/p/1</loc></url>" +
        "<url><loc>https://a.com/p/2</loc></url>" +
        "<url><loc>https://a.com/p/esc?x=1&amp;y=2</loc></url>" +
        "<url><loc>https://a.com/p/3</loc></url>" +
        "<url><loc>https://a.com/blocked/x</loc></url></urlset>")
      .toDF("xml")
    val robots = Seq(("a.com", "User-agent: *\nDisallow: /blocked\n"))
      .toDF("host", "body")
    val captured = Seq("https://a.com/p/3").toDF("url")
    val frontier = Pipelines.frontierPlan(sitemaps, robots, captured)
    val fUrls = frontier.select("url").as[String].collect().toSet
    assert(fUrls == Set("https://a.com/p/1", "https://a.com/p/2",
      "https://a.com/p/esc?x=1&y=2"), s"got $fUrls")
    // stage 2: the CDX index scopes to the frontier — a duplicate
    // digest (earliest capture wins), a 404 capture, an unplanned URL,
    // and out-of-order offsets across two archives
    val cdx = Seq(
      // seg-1: /p/2 at offset 900, /p/1 at 100 -> sweep reorders
      ("a)/p/2", "20240102000000", "https://a.com/p/2", 200,
        "sha1:D2", 300L, 900L, "seg-1.warc"),
      ("a)/p/1", "20240101000000", "https://a.com/p/1", 200,
        "sha1:D1", 300L, 100L, "seg-1.warc"),
      // /p/1 re-capture, same digest, LATER timestamp -> dropped
      ("a)/p/1", "20240105000000", "https://a.com/p/1", 200,
        "sha1:D1", 300L, 500L, "seg-2.warc"),
      // planned URL whose capture is a 404 -> gated out of the plan
      ("a)/p/esc?x=1&y=2", "20240103000000",
        "https://a.com/p/esc?x=1&y=2", 404,
        "sha1:D3", 300L, 200L, "seg-2.warc"),
      // unplanned URL (not on the frontier) -> never planned
      ("a)/other", "20240104000000", "https://a.com/other", 200,
        "sha1:D4", 300L, 50L, "seg-2.warc"))
      .toDF("urlkey", "timestamp", "url", "status", "digest",
        "length", "offset", "filename")
    val plan = Pipelines.frontierFetchPlan(frontier, cdx)
    val planRows = plan.orderBy("filename", "fetch_seq").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getString(4))).toSeq
    assert(planRows == Seq(
      ("seg-1.warc", 1, 100L, "https://a.com/p/1"),
      ("seg-1.warc", 2, 900L, "https://a.com/p/2")), s"got $planRows")
    // stage 3: planned ingest — the archive also holds the captured
    // /p/3 and the unplanned /other; only planned records land
    def rec(uri: String, rid: String, body: String): String =
      s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
        s"WARC-Target-URI: $uri\r\nWARC-Record-ID: <urn:uuid:$rid>\r\n" +
        s"WARC-Date: 2024-01-01T00:00:00Z\r\n" +
        s"Content-Length: ${body.getBytes("UTF-8").length}\r\n\r\n" +
        s"$body\r\n\r\n"
    val t1 = "the quick brown fox jumps over the lazy dog and then " +
      "it runs far away to the old stone house by the river bank"
    val t2 = "an entirely different but still quite reasonable english " +
      "sentence that it is for the test and with many of the words"
    val warc = rec("https://a.com/p/1", "r1", t1) +
      rec("https://a.com/p/2", "r2", t2) +
      rec("https://a.com/p/3", "r3", "already captured page text") +
      rec("https://a.com/other", "r4", "unplanned page text here")
    val dir = java.nio.file.Files.createTempDirectory("graft_e10e6")
    val wf = dir.resolve("seg-1.warc")
    java.nio.file.Files.write(wf, warc.getBytes("UTF-8"))
    val docs = Pipelines.ingestWarc(spark, wf.toString,
      planUrls = Some(plan))
    val ingested = docs.select("text").as[String].collect().toSet
    assert(ingested == Set(t1, t2), s"got $ingested")
    assert(docs.select("source").as[String].collect().toSet ==
      Set("a.com"))
    // stage 4: curate the planned ingest — both survive the gates
    val curated = Pipelines.curate(docs)
    assert(curated.select("text").as[String].collect().toSet ==
      Set(t1, t2))
  }

  test("E10 two-hop: an INDEX-rooted host flows end to end — " +
    "sitemapFrontier surfaces the nested sitemaps (fetched ledger " +
    "anti-joined, lastmod max-merged across indexes), the fetched " +
    "children then feed frontierPlan; entity-escaped locs decode " +
    "before every join") {
    // hop 0: the chain's root — robots.txt ANNOUNCES the index sitemap
    val seeds = Pipelines.sitemapSeeds(Seq(
      ("a.com", "User-agent: *\nSitemap: https://a.com/maps/root.xml\n"),
      ("b.com", "User-agent: *\nDisallow: /\n")).toDF("host", "body"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(seeds == Seq(("a.com", "https://a.com/maps/root.xml")),
      s"got $seeds")
    // hop 1: the host ships ONLY a sitemapindex (the real-world norm)
    val indexDocs = Seq(
      "<sitemapindex><sitemap><loc>https://a.com/maps/s1.xml</loc>" +
        "<lastmod>2026-01-05</lastmod></sitemap>" +
        "<sitemap><loc>https://a.com/maps/s2.xml?v=1&amp;lang=en</loc>" +
        "</sitemap></sitemapindex>",
      // a second index lists s1 again with a FRESHER lastmod
      "<sitemapindex><sitemap><loc>https://a.com/maps/s1.xml</loc>" +
        "<lastmod>2026-01-09</lastmod></sitemap>" +
        "<sitemap><loc>https://a.com/maps/s0.xml</loc>" +
        "</sitemap></sitemapindex>").toDF("xml")
    val ledger = Seq("https://a.com/maps/s0.xml").toDF("url")
    val hop1 = Pipelines.sitemapFrontier(indexDocs, ledger)
      .orderBy("url").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(hop1 == Seq(
      ("a.com", "https://a.com/maps/s1.xml", "2026-01-09"),
      ("a.com", "https://a.com/maps/s2.xml?v=1&lang=en", "")),
      s"got $hop1")
    // an index-rooted host yields NO page-fetch rows from hop 1 alone
    val robots = Seq(("a.com", "User-agent: *\nDisallow: /blocked\n"))
      .toDF("host", "body")
    val capturedPages = Seq("https://a.com/p/esc?x=1&y=2").toDF("url")
    assert(Pipelines.frontierPlan(indexDocs, robots, capturedPages)
      .count() == 0L)
    // hop 2: "fetch" the two children; one loc is entity-escaped and
    // must decode to match its plain-& captured twin; another decodes
    // into the robots disallow prefix
    val leafDocs = Seq(
      "<urlset><url><loc>https://a.com/p/1</loc></url>" +
        "<url><loc>https://a.com/p/esc?x=1&amp;y=2</loc></url></urlset>",
      "<urlset><url><loc>https://a.com/blocked&#47;deep</loc></url>" +
        "<url><loc>https://a.com/p/2</loc></url></urlset>")
      .toDF("xml")
    val hop2 = Pipelines.frontierPlan(leafDocs, robots, capturedPages)
      .orderBy("fetch_seq").collect()
      .map(r => (r.getInt(1), r.getString(2))).toSeq
    // /p/esc collapsed against the captured twin (decode worked),
    // /blocked/deep hit the robots prefix (decode worked)
    assert(hop2 == Seq((1, "https://a.com/p/1"),
      (2, "https://a.com/p/2")), s"got $hop2")
  }
}
