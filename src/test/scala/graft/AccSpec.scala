package graft

import org.apache.spark.sql.functions._
import graft.ops.Acc

/** 3-axis alignment + smoothing (J4/G1, /root/reference/acc_reformat.py).
  * NOTE: the sweep faithfully discards the final `n = 6` unprocessed records
  * per axis (acc_reformat.py:204-210), so fixtures carry ≥ 6 tail records.
  */
class AccSpec extends SparkSpec {
  import spark.implicits._

  private def rec(kind: String, tUs: Long, v: Double) =
    ("s1", new java.sql.Timestamp(tUs / 1000), kind,
      Seq(v, v + 0.1, v + 0.2, v + 0.3, v + 0.4))

  private val T0 = ts("2024-01-01 00:00:10").getTime * 1000L // µs

  /** n aligned records per axis at 0.5 s spacing, axis offsets 0/0.1/0.2 s. */
  private def alignedStream(n: Int, startIdx: Int = 0,
                            baseUs: Long = T0) =
    (startIdx until startIdx + n).flatMap { i =>
      val t = baseUs + i * 500000L
      Seq(rec("acx", t, i * 10.0), rec("acy", t + 100000L, i * 10.0 + 1),
        rec("acz", t + 200000L, i * 10.0 + 2))
    }

  test("aligned streams pass through and explode to the 0.1 s grid") {
    val rows = alignedStream(12).toDF("subject", "date_time", "kind", "data")
    val got = Acc.alignAxes(rows, Seq("subject")).orderBy("date_time")
      .collect()
    // 12 records, sweep stops with 6 in the lookahead tail → 6 × 5 samples
    assert(got.length == 30)
    // anchor = first x timestamp 10.0 s → first sample at 10.0 − 0.4 = 9.6
    assert(got.head.getAs[java.sql.Timestamp]("date_time").toString
      == "2024-01-01 00:00:09.6")
    // sample spacing 0.1 s
    assert(got(1).getAs[java.sql.Timestamp]("date_time").toString
      == "2024-01-01 00:00:09.7")
    // record 1: t0 = anchor − 0.4 + 0.5·1 = 10.1
    assert(got(5).getAs[java.sql.Timestamp]("date_time").toString
      == "2024-01-01 00:00:10.1")
    assert(got.head.getAs[Double]("acx") == 0.0 &&
      got.head.getAs[Double]("acy") == 1.0 &&
      got.head.getAs[Double]("acz") == 2.0)
  }

  test("desynced axis rows are skipped to re-align (J4 resync)") {
    // y stream has an orphan record 5 s early: the sweep must pop it and
    // re-align on the true matches
    val orphan = rec("acy", T0 - 5000000L, 999.0)
    val rows = (orphan +: alignedStream(12))
      .toDF("subject", "date_time", "kind", "data")
    val got = Acc.alignAxes(rows, Seq("subject")).collect()
    assert(got.nonEmpty)
    assert(!got.exists(_.getAs[Double]("acy") == 999.0))
    // aligned rows keep matched x/y pairs: y = x + 1 by construction
    assert(got.forall(r =>
      math.abs(r.getAs[Double]("acy") - r.getAs[Double]("acx") - 1.0) < 1e-9))
  }

  test("gap > 1 s resets the smoothing anchor (W5 session reset)") {
    // 3 records, then a 10 s gap, then 9 more; the sweep processes 6
    // records (tail 6 discarded) → the session boundary falls inside the
    // processed range
    val rows = (alignedStream(3) ++
      alignedStream(9, startIdx = 0, baseUs = T0 + 10000000L)
        .map { case (s, t, k, d) => (s, t, k, d.map(_ + 100)) })
      .toDF("subject", "date_time", "kind", "data")
    val got = Acc.alignAxes(rows, Seq("subject")).orderBy("date_time")
      .collect()
    assert(got.length == 30) // 12 records − 6 tail = 6 → ×5 samples
    // session 2 starts at record index 3 (ts 20.0 s): re-anchored at
    // 20.0 − 0.4 = 19.6
    assert(got(15).getAs[java.sql.Timestamp]("date_time").toString
      == "2024-01-01 00:00:19.6")
  }

  test("alignAxesRelational matches the faithful sweep on clean streams") {
    val rows = alignedStream(12).toDF("subject", "date_time", "kind", "data")
    val faithful = Acc.alignAxes(rows, Seq("subject"))
      .orderBy("date_time").collect()
    val relational = Acc.alignAxesRelational(rows, Seq("subject"))
      .orderBy("date_time").collect()
    // relational keeps all 12 records (no tail discard) → 60 rows; the
    // first 30 coincide exactly with the faithful sweep's output
    assert(relational.length == 60)
    assert(faithful.length == 30)
    faithful.zip(relational.take(30)).foreach { case (f, r) =>
      assert(f.getAs[java.sql.Timestamp]("date_time") ==
        r.getAs[java.sql.Timestamp]("date_time"))
      assert(f.getAs[Double]("acx") == r.getAs[Double]("acx"))
      assert(f.getAs[Double]("acy") == r.getAs[Double]("acy"))
      assert(f.getAs[Double]("acz") == r.getAs[Double]("acz"))
    }
  }

  test("alignAxesRelational drops x records with no in-tolerance match") {
    // y stream missing entirely for the second half
    val rows = (alignedStream(12).filterNot { case (_, t, k, _) =>
      k == "acy" && t.getTime > ts("2024-01-01 00:00:12").getTime
    }).toDF("subject", "date_time", "kind", "data")
    val got = Acc.alignAxesRelational(rows, Seq("subject")).collect()
    // records after 12 s have no y within 0.5 s → dropped
    assert(got.nonEmpty)
    assert(got.forall(
      _.getAs[java.sql.Timestamp]("date_time").getTime <
        ts("2024-01-01 00:00:13").getTime))
  }

  test("accDerived computes seconds-of-day, bin, g-force") {
    val df = Seq((ts("2024-01-01 00:05:30.5"), 3.0, 4.0, 12.0))
      .toDF("date_time", "acx", "acy", "acz")
    val r = Acc.accDerived(df).head()
    assert(r.getAs[Double]("seconds") == 330.5)
    assert(r.getAs[Int]("bin") == 1)
    assert(r.getAs[Double]("g_force") == 13.0) // 3-4-12 triple
  }

  test("binCategorize thresholds: >10% high, >5% low, else rest") {
    // 20 samples per bin; craft outlier fractions 0%, 10%, 15%
    def bin(t0: Int, outliers: Int) = (0 until 20).map { i =>
      (ts(f"2024-01-01 00:$t0%02d:${i * 3}%02d"),
        if (i < outliers) 99.0 else 1.0)
    }
    val df = (bin(0, 0) ++ bin(5, 2) ++ bin(10, 3))
      .toDF("date_time", "g_force")
    val got = Acc.binCategorize(df, lit(0.0), lit(2.0))
      .orderBy("start_time").select("category").as[String].collect().toSeq
    assert(got == Seq("rest", "low active", "high active"))
  }

  test("restingBand returns exact 2.5/97.5 percentiles within sleep") {
    val acc = (1 to 100).map(i =>
      (ts(f"2024-01-01 01:${i % 60}%02d:${i / 2}%02d"), i.toDouble))
      .toDF("date_time", "g_force")
    val sleep = Seq((ts("2024-01-01 00:00:00"), ts("2024-01-01 23:00:00")))
      .toDF("start_time", "end_time")
    val band = Acc.restingBand(acc, sleep).collect()
    assert(band.length == 1)
    val (lo, hi) = (band(0).getAs[Double]("lo"), band(0).getAs[Double]("hi"))
    assert(math.abs(lo - 3.475) < 1e-9) // numpy/spark linear interpolation
    assert(math.abs(hi - 97.525) < 1e-9)
    // no sample inside the sleep intervals: no band row
    assert(Acc.restingBand(acc, sleep.select(
      ($"start_time" + expr("INTERVAL 1 DAY")).as("start_time"),
      ($"end_time" + expr("INTERVAL 1 DAY")).as("end_time"))).isEmpty)
  }
}
