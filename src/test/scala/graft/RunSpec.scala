package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Stage-CLI golden (VERDICT r2 item 3): the reference's script workflow
  * driven end to end through `graft.Run` — raw watch JSON → reformat CSVs
  * (+ skip-if-exists) → acc reformat (+ skip) → filter → categorize, with
  * the reference's exact output names
  * (raw_data_reformat.py:246-264, acc_reformat.py:58-62,
  * filtering_data.py:126-221, activity_categorize.py:209-343). */
class RunSpec extends SparkSpec {

  private val Day = 1704067200000L // 2024-01-01 00:00:00 UTC

  /** JSON files under root/sub/watch_2024-01-01 — two levels deep so the
    * reference's `timestamp_diff.txt` contract (two levels up) is
    * observable. */
  private def writeFixture(): (Path, Path) = {
    val root = Files.createTempDirectory("graft_run")
    val dir = root.resolve("sub").resolve("watch_2024-01-01")
    Files.createDirectories(dir)
    val hrFlat = (0 until 25).map(i =>
      s"""{"time": ${Day + i * 60000}, "kind": "hr", "data": [70]}""")
    val hrVar = (0 until 30).map(i =>
      s"""{"time": ${Day + 1500000 + i * 60000}, "kind": "hr", "data": [${60 + (i % 13)}]}""")
    val sleep = Seq( // cumulative counter: one 06:00→08:00 interval
      s"""{"time": ${Day + 6 * 3600000}, "kind": "sleep_total", "data": [0]}""",
      s"""{"time": ${Day + 8 * 3600000}, "kind": "sleep_total", "data": [120]}""",
      s"""{"time": ${Day + 9 * 3600000}, "kind": "sleep_total", "data": [120]}""")
    val steps = Seq(
      s"""{"time": ${Day + 16 * 3600000}, "kind": "activity", "data": [500, 20, 0, 0, 0]}""")
    val ppg = Seq(
      s"""{"time": ${Day + 3000}, "kind": "ppg", "data": [1, 2, 3]}""")
    // 3-axis records: quiet (|g|=1) hourly 07:00-07:55 inside sleep,
    // active (|g|=5) 12:00-12:55; 10 samples per record, axes aligned
    def ac(kind: String, v: Double) =
      (0 until 12).flatMap { i =>
        Seq(7, 12).map { h =>
          val t = Day + h * 3600000L + i * 300000L
          val z = if (h == 12) v * 5 else v
          val arr = Seq.fill(10)(z).mkString("[", ", ", "]")
          s"""{"time": $t, "kind": "$kind", "data": $arr}"""
        }
      }
    val acx = ac("acx", 0.0)
    val acy = ac("acy", 0.0)
    val acz = ac("acz", 1.0)
    Files.writeString(dir.resolve("watch 2024-01-01 08-00-00.json"),
      (hrFlat ++ hrVar ++ sleep ++ steps ++ ppg ++ acx ++ acy ++ acz)
        .mkString("[", ",\n", "]"))
    (root, dir)
  }

  /** Computed-table CSV (date_time,kind,data) the filter/categorize stages
    * consume, with the same sleep/step content plus an hr stream. */
  private def writeComputedCsv(root: Path): Path = {
    def row(offsetMs: Long, kind: String, v: Double) = {
      val t = new java.sql.Timestamp(Day + offsetMs)
      s"$t,$kind,$v"
    }
    val hr = (0 until 30).map(i => row(1500000 + i * 60000, "hr", 60 + (i % 13)))
    val rows = Seq(
      row(6 * 3600000, "sleep_total", 0),
      row(8 * 3600000, "sleep_total", 120),
      row(9 * 3600000, "sleep_total", 120),
      row(16 * 3600000, "step", 500)) ++ hr
    val f = root.resolve("computed.csv")
    Files.writeString(f, ("date_time,kind,data" +: rows).mkString("\n"))
    f
  }

  private def lines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq

  test("reformat CLI: reference file layout, tdiff file, skip-if-exists") {
    val (root, dir) = writeFixture()
    Run.main(Array("reformat", "-d", dir.toString))
    val base = dir.getFileName.toString
    val m = dir.resolve(s"0_${base}_measurements.csv")
    val ppg = dir.resolve(s"0_${base}_ppg.csv")
    val ac = dir.resolve(s"0_${base}_ac.csv")
    assert(Files.exists(m) && Files.exists(ppg) && Files.exists(ac))
    // reference column order
    assert(lines(m).head == "kind,data,jname,date_time,date,time")
    // jname from the file-name timestamp pattern
    assert(lines(m).exists(_.contains("2024-01-01 08-00-00")))
    // arrays round-trip in str(list) form
    assert(lines(ppg)(1).contains("\"[1.0, 2.0, 3.0]\""))
    // adjust_time persists the offset two levels up (:51-55)
    assert(lines(root.resolve("timestamp_diff.txt")) == Seq("0"))
    // second invocation honors the skip contract (:263-264)
    val mtime = Files.getLastModifiedTime(m)
    Run.main(Array("reformat", "-d", dir.toString))
    assert(Files.getLastModifiedTime(m) == mtime)
  }

  test("acc CLI: ac_reformatted layout and skip-if-exists") {
    val (_, dir) = writeFixture()
    Run.main(Array("reformat", "-d", dir.toString))
    val base = dir.getFileName.toString
    Run.main(Array("acc", "-f",
      dir.resolve(s"0_${base}_ac.csv").toString))
    val out = dir.resolve(s"0_${base}_ac_reformatted.csv")
    assert(Files.exists(out))
    val ls = lines(out)
    assert(ls.head == "date_time,acx,acy,acz,seconds,bin,g_force")
    // 24 records − the 6-record search-window tail the reference discards
    // (acc_reformat.py:204-210), x 5 smoothed samples per record
    assert(ls.length == 1 + (24 - 6) * 5)
    // g_force magnitudes survive the pipeline
    assert(ls.tail.forall(l => l.endsWith("1.0") || l.endsWith("5.0")))
    val mtime = Files.getLastModifiedTime(out)
    Run.main(Array("acc", "-f",
      dir.resolve(s"0_${base}_ac.csv").toString))
    assert(Files.getLastModifiedTime(out) == mtime)
  }

  test("filter CLI: flatline + clamp over a computed table") {
    val (root, _) = writeFixture()
    val computed = writeComputedCsv(root)
    val save = root.resolve("filtered.csv")
    Run.main(Array("filter", "-f", computed.toString, "-s", save.toString))
    val ls = lines(save)
    assert(ls.head == "date_time,kind,data")
    val hr = ls.tail.filter(_.contains(",hr,"))
    assert(hr.length == 30) // varied hr survives; no flatline in this table
    assert(hr.forall(_.split(",")(2).toDouble >= 50.0))
  }

  test("categorize CLI: thresholds, acc categories, activity timeline") {
    val (root, dir) = writeFixture()
    Run.main(Array("reformat", "-d", dir.toString))
    val base = dir.getFileName.toString
    Run.main(Array("acc", "-f",
      dir.resolve(s"0_${base}_ac.csv").toString))
    val computed = writeComputedCsv(root)
    val stem = root.resolve("subj23").toString
    Run.main(Array("categorize", "-f", computed.toString,
      "-a", root.toString, "-s", stem))
    val thresh = lines(java.nio.file.Paths.get(s"${stem}_sleep_acc_thresholds.csv"))
    assert(thresh.head.startsWith("lower_threshold,"))
    assert(thresh(1).startsWith("upper_threshold,"))
    val lo = thresh.head.split(",")(1).toDouble
    val hi = thresh(1).split(",")(1).toDouble
    assert(lo <= hi)
    val cat = lines(java.nio.file.Paths.get(s"${stem}_acc_category.csv"))
    assert(cat.head == "start_time,end_time,category")
    assert(cat.exists(_.endsWith("high active")))
    val timeline = lines(java.nio.file.Paths.get(s"${stem}_activity_categorized.csv"))
    assert(timeline.head == "start_time,end_time,category")
    assert(timeline.exists(_.endsWith("sleep")))
    assert(timeline.exists(_.endsWith("high active")))
  }

  test("categorize CLI: no acc sample inside net sleep fails clearly") {
    val (root, _) = writeFixture()
    val computed = writeComputedCsv(root)
    // acc only at noon; net sleep is 06:00-08:00
    val acc = root.resolve("0_noon_ac_reformatted.csv")
    Files.writeString(acc, ("date_time,acx,acy,acz,seconds,bin,g_force" +:
      (0 until 12).map { i =>
        val t = new java.sql.Timestamp(Day + 12 * 3600000L + i * 60000L)
        s"$t,0.0,0.0,1.0,${43200 + i * 60}.0,144,1.0"
      }).mkString("\n"))
    val stem = root.resolve("subj25").toString
    val e = intercept[IllegalArgumentException] {
      Run.main(Array("categorize", "-f", computed.toString,
        "-a", acc.toString, "-s", stem))
    }
    assert(e.getMessage.contains("no resting band"), e.getMessage)
    assert(!Files.exists(
      java.nio.file.Paths.get(s"${stem}_sleep_acc_thresholds.csv")))
  }

  test("categorize CLI --acc_cat: reuses stored categories, skips thresholds") {
    val (root, _) = writeFixture()
    val computed = writeComputedCsv(root)
    val accCat = root.resolve("acc_cat.csv")
    def t(offsetMs: Long) = new java.sql.Timestamp(Day + offsetMs).toString
    Files.writeString(accCat,
      Seq("start_time,end_time,category",
        s"${t(7 * 3600000)},${t(7 * 3600000 + 3600000)},rest",
        s"${t(12 * 3600000)},${t(12 * 3600000 + 3600000)},high active")
        .mkString("\n"))
    val stem = root.resolve("subj24").toString
    Run.main(Array("categorize", "-f", computed.toString,
      "--acc_cat", accCat.toString, "-s", stem))
    assert(!Files.exists(
      java.nio.file.Paths.get(s"${stem}_sleep_acc_thresholds.csv")))
    assert(!Files.exists(
      java.nio.file.Paths.get(s"${stem}_acc_category.csv")))
    val timeline = lines(
      java.nio.file.Paths.get(s"${stem}_activity_categorized.csv"))
    assert(timeline.exists(_.endsWith("sleep")))
    assert(timeline.exists(_.endsWith("high active")))
  }

  test("all CLI: multi-day corpus; date-partitioned parquet prunes on " +
    "read-back; faithful sweep parallelizes across day groups") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_all")
    // two days of loose raw json — `all` organizes them into per-date
    // dirs, then reformats + acc-reformats each
    def dayJson(dayMs: Long): String = {
      val hr = (0 until 20).map(i =>
        s"""{"time": ${dayMs + 1500000 + i * 60000}, "kind": "hr", "data": [${60 + (i % 13)}]}""")
      val ac = Seq("acx", "acy", "acz").flatMap { kind =>
        (0 until 12).map { i =>
          val t = dayMs + 7 * 3600000L + i * 300000L
          val v = if (kind == "acz") 1.0 else 0.0
          val arr = Seq.fill(10)(v).mkString("[", ", ", "]")
          s"""{"time": $t, "kind": "$kind", "data": $arr}"""
        }
      }
      (hr ++ ac).mkString("[", ",\n", "]")
    }
    Files.writeString(root.resolve("watch 2024-01-01 08-00-00.json"),
      dayJson(Day))
    Files.writeString(root.resolve("watch 2024-01-02 08-00-00.json"),
      dayJson(Day + 86400000L))
    Run.main(Array("all", "-d", root.toString, "-o", "subj", "--parquet"))
    val days = Seq("2024-01-01", "2024-01-02")
    val pqs = days.map { d =>
      val dir = root.resolve(s"subj_$d")
      assert(Files.exists(dir.resolve(s"0_subj_${d}_measurements.csv")))
      assert(Files.exists(dir.resolve(s"0_subj_${d}_ac_reformatted.csv")))
      val pq = dir.resolve(s"0_subj_${d}_measurements.parquet")
      // hive-style date partition directory per day
      assert(Files.isDirectory(pq.resolve(s"date=$d")), s"no date dir in $pq")
      pq.toString
    }
    // read-back across the whole corpus with a day predicate: the filter
    // must reach the scan as a PARTITION filter (static pruning), and the
    // row count must match the single-day read
    val corpus = pqs.map(spark.read.parquet(_)).reduce(_ unionByName _)
    val oneDay = corpus.filter(col("date") === lit("2024-01-01"))
    val plan = oneDay.queryExecution.sparkPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(date"),
      s"date predicate not a partition filter:\n$plan")
    val d1Rows = spark.read.parquet(pqs.head).count()
    assert(oneDay.count() == d1Rows && corpus.count() > d1Rows)
    // the faithful alignAxes sweep distributes one task per group key:
    // with per-day group keys, >1 task (spark partition) does the work
    val acSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("kind",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("data",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("jname",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("date_time",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("date",
        org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StructField("time",
        org.apache.spark.sql.types.StringType)))
    // 8 (day, subject-replica) group keys so the per-group task
    // distribution is observable over the test shuffle-partition count
    val tall = days.flatMap { d =>
      (0 until 4).map { rep =>
        graft.ops.Normalize.parseListString(
          spark.read.schema(acSchema).option("header", "true")
            .csv(root.resolve(s"subj_$d").resolve(s"0_subj_${d}_ac.csv")
              .toString), "data")
          .withColumn("grp", lit(s"$d#$rep"))
      }
    }.reduce(_ unionByName _)
    // AQE coalesces the tiny test shuffle into one partition, masking the
    // per-group task distribution the assertion is about — turn just the
    // coalescing off while measuring (at scale partitions aren't tiny)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    val byGroup = try {
      spark.conf.set(coalesceKey, "false")
      graft.ops.Acc.alignAxes(tall, Seq("grp"))
        .withColumn("pid", spark_partition_id())
        .groupBy("grp")
        .agg(countDistinct("pid").as("pids"), count(lit(1)).as("rows"),
          first("pid").as("apid"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    } finally spark.conf.set(coalesceKey, prev)
    assert(byGroup.size == 8, s"missing groups: $byGroup")
    // every group's sweep ran in exactly one task, with rows out
    assert(byGroup.values.forall(v => v._1 == 1L && v._2 > 0))
    val distinctPids = byGroup.values.map(_._3).toSet.size
    assert(distinctPids > 1,
      s"sweep ran in a single task for all groups: $byGroup")
  }

  test("organize CLI: json files sorted into per-date dirs") {
    val dir = Files.createTempDirectory("graft_org")
    Files.writeString(dir.resolve("w 2024-01-01 08-00-00.json"), "[]")
    Files.writeString(dir.resolve("w 2024-01-02 08-00-00.json"), "[]")
    Run.main(Array("organize", "-d", dir.toString, "-o",
      dir.resolve("subj").toString, "-j"))
    assert(Files.exists(
      dir.resolve("subj_2024-01-01").resolve("w 2024-01-01 08-00-00.json")))
    assert(Files.exists(
      dir.resolve("subj_2024-01-02").resolve("w 2024-01-02 08-00-00.json")))
  }

  test("curate CLI: curated parquet, shard tree, audit reports") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_curate")
    val in = root.resolve("docs.parquet").toString
    // pairwise-distinct docs (unique content words, no shared 8-gram —
    // distinctness matters: E4's decontamination drops train docs
    // sharing 8-grams with test docs, so template-heavy fixtures empty
    // the train split); docs 3/13/23 are EXACT dups of one text
    def text(i: Long) = s"the subject$i and the object$i of the story$i " +
      s"went to the place$i with the friend$i and the helper$i in the " +
      s"year$i of the era$i"
    val docs = ((0L until 30L).map { i =>
      val t = if (i % 10 == 3) text(3) else text(i)
      (i, t, "en", "src0", t.length.toLong)
    } :+ (99L, "!!!", "en", "src0", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(in)
    val out = root.resolve("out")
    // chapter docs sit at J≈0.87 to each other; 0.95 keeps them apart so
    // only the exact-dup group collapses (and exercises the flag)
    Run.main(Array("curate", "-d", in, "-s", out.toString,
      "--min-jaccard", "0.95", "--shards", "2", "--audit"))
    val curated = spark.read.parquet(out.resolve("curated.parquet").toString)
    val ids = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(99L), "gate must drop the junk doc")
    // exact dups (3, 13, 23 share one text) keep only the min id
    assert(ids.contains(3L) && !ids.contains(13L) && !ids.contains(23L))
    val shardDirs = out.resolve("shards").toFile.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.length == 2)
    Seq("audit_card.csv", "audit_leakage.csv", "audit_boilerplate.csv",
      "audit_zipf.csv").foreach(f =>
      assert(Files.exists(out.resolve(f)), s"missing $f"))
  }

  test("export CLI: curated corpus leaves as TFRecord (or WebDataset) " +
    "shards with a manifest CSV beside them") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_export")
    val in = root.resolve("docs.parquet").toString
    def text(i: Long) = s"the subject$i and the object$i of the story$i " +
      s"went to the place$i with the friend$i and the helper$i in the " +
      s"year$i of the era$i"
    val docs = ((0L until 20L).map(i => (i, text(i), "en", "src0",
      text(i).length.toLong)) :+ (99L, "!!!", "en", "src0", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(in)
    val out = root.resolve("out")
    Run.main(Array("export", "-d", in, "-s", out.toString,
      "--max-tokens", "64", "--shards", "2"))
    val files = out.resolve("shards").toFile.listFiles()
      .filter(_.getName.endsWith(".tfrecord"))
    assert(files.nonEmpty, "no tfrecord shards written")
    assert(Files.exists(out.resolve("shard_manifest.csv")))
    // every curated doc (junk 99 gated) is exactly one record
    val recs = graft.io.Tfrecord
      .readRecords(spark, out.resolve("shards").toString)
      .collect()
      .map(r => graft.io.Tfrecord
        .parseExample(r.getAs[Array[Byte]]("payload"))
        .collectFirst { case ("doc_id", _, ids, _) => ids.head }.get)
    assert(recs.length == 20 && !recs.contains(99L))
    // the webdataset leg: tar shards with <doc_id>.txt members
    val out2 = root.resolve("out2")
    Run.main(Array("export", "-d", in, "-s", out2.toString,
      "--format", "webdataset"))
    val members = graft.io.WebDataset
      .readMembers(spark, out2.resolve("shards").toString)
      .select("name").collect().map(_.getString(0)).toSet
    assert(members.contains("0.txt") && !members.contains("99.txt"))
    assert(Files.exists(out2.resolve("shard_manifest.csv")))
    // --packer bfd routes the fill-optimal packer; record set unchanged
    val out3 = root.resolve("out3")
    Run.main(Array("export", "-d", in, "-s", out3.toString,
      "--max-tokens", "64", "--shards", "2", "--packer", "bfd"))
    val recs3 = graft.io.Tfrecord
      .readRecords(spark, out3.resolve("shards").toString)
      .collect()
      .map(r => graft.io.Tfrecord
        .parseExample(r.getAs[Array[Byte]]("payload"))
        .collectFirst { case ("doc_id", _, ids, _) => ids.head }.get)
    assert(recs3.length == 20 && !recs3.contains(99L))
    // unknown packer fails with the choices named
    val e = intercept[IllegalArgumentException] {
      graft.text.TextOps.packWith("zigzag", docs, 64, 2)
    }
    assert(e.getMessage.contains("greedy, bfd, or grouped"),
      s"got ${e.getMessage}")
    // grouped:<col> routes the group-affine walk
    assert(graft.text.TextOps.packWith("grouped:source", docs, 64, 2)
      .count() == 21L)
    // --tokenizer with a UNIGRAM file end to end: the CLI trains the
    // tokenizer, then the export packs by tokenBudgets' domain-DP
    // join-back (tokenCounter alone refuses unigram files) — no
    // hand-wiring of the q339 pattern
    val tokPath = root.resolve("uni_tok.json").toString
    Run.main(Array("train-tokenizer", "-d", in, "-s", tokPath,
      "--family", "unigram", "--vocab-size", "40"))
    val out4 = root.resolve("out4")
    Run.main(Array("export", "-d", in, "-s", out4.toString,
      "--max-tokens", "64", "--shards", "2", "--tokenizer", tokPath))
    val recs4 = graft.io.Tfrecord
      .readRecords(spark, out4.resolve("shards").toString)
      .collect()
      .map(r => graft.io.Tfrecord
        .parseExample(r.getAs[Array[Byte]]("payload"))
        .collectFirst { case ("doc_id", _, ids, _) => ids.head }.get)
    assert(recs4.length == 20 && !recs4.contains(99L))
    // and the budgets really are the unigram counts: the packer's
    // n_tokens column must match tokenBudgets row for row
    val lt4 = graft.text.TokenizerFiles.loadTokenizer(spark, tokPath)
    val budgets = graft.text.TokenizerFiles
      .tokenBudgets(lt4, graft.pipeline.Pipelines.curate(docs, 0.3))
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("n_tokens"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(budgets.size == 20 && budgets.values.exists(_ > 0))
  }

  test("train-tokenizer CLI: learns merges in the chosen family and " +
    "ships a tokenizer.json loadTokenizer reads straight back; " +
    "unknown family named") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.text.TokenizerFiles
    val dir = Files.createTempDirectory("graft_ttk")
    val docsPath = dir.resolve("docs").toString
    Seq((1L, "the cat the cat"), (2L, "the dog"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(docsPath)
    val out = dir.resolve("tok.json").toString
    Run.main(Array("train-tokenizer", "-d", docsPath, "-s", out,
      "--merges", "3"))
    // the default family is metaspace; the shipped file encodes with
    // the hand-derived table ((h,e),(t,he),(▁,the))
    val lt = TokenizerFiles.loadTokenizer(spark, out)
      .asInstanceOf[TokenizerFiles.ColumnTokenizer]
    assert(lt.family == "bpe_metaspace")
    val enc = Seq("the cat").toDF("text")
      .select(lt.encode(col("text"))).head().getSeq[String](0)
    assert(enc == Seq("▁the", "▁ c a t"), s"got $enc")
    // vocab covers alphabet + merged symbols, ids dense from 0
    val ids = TokenizerFiles.readTokenizerJsonVocab(spark, out)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(ids.contains("▁the") && ids.contains("▁") &&
      ids.values.toSeq.sorted == ids.values.toSeq.sorted.distinct)
    // byte_level family declares itself and routes on load
    val out2 = dir.resolve("tok_bl.json").toString
    Run.main(Array("train-tokenizer", "-d", docsPath, "-s", out2,
      "--family", "byte_level", "--merges", "3"))
    assert(TokenizerFiles.loadTokenizer(spark, out2)
      .asInstanceOf[TokenizerFiles.ColumnTokenizer]
      .family == "bpe_byte_level")
    // unigram family: EM-trained vocab ships as a Unigram
    // tokenizer.json; --metaspace declares the T5 pre-tokenizer
    val out3 = dir.resolve("tok_uni.json").toString
    Run.main(Array("train-tokenizer", "-d", docsPath, "-s", out3,
      "--family", "unigram", "--vocab-size", "10", "--rounds", "2",
      "--metaspace"))
    val ut = TokenizerFiles.loadTokenizer(spark, out3)
      .asInstanceOf[TokenizerFiles.UnigramTokenizer]
    assert(ut.family == "unigram")
    assert(ut.vocab.count() == 10)
    val dom = Seq("the cat").toDF("text")
      .select(ut.preTokens(col("text"))).head().getSeq[String](0)
    assert(dom == Seq("▁the", "▁cat"), s"got $dom")
    // the shipped file segments its OWN declared domain: --metaspace
    // trains on the ▁-form word domain (and declares Lowercase so the
    // loaded domain matches the lowercased training one) — a vocab
    // learned on bare whitespace words would drop every ▁-word here
    val segged = graft.text.TextOps.unigramSegment(
      Seq("The cat", "the dog").toDF("text")
        .select(org.apache.spark.sql.functions
          .explode(ut.preTokens(col("text"))).as("word")),
      ut.vocab)
    assert(segged.count() == 3L, "shipped metaspace unigram " +
      "tokenizer failed to segment its own pre-tokens")
    // --byte-fallback: the shipped file carries the 256 byte pieces
    // and the flag, so the LOADED tokenizer respells text outside the
    // trained alphabet as <0xXX> pieces instead of bare OOV symbols
    val out4 = dir.resolve("tok_bf.json").toString
    Run.main(Array("train-tokenizer", "-d", docsPath, "-s", out4,
      "--merges", "3", "--byte-fallback"))
    val bfIds = TokenizerFiles.readTokenizerJsonVocab(spark, out4)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(bfIds.contains("<0x00>") && bfIds.contains("<0xFF>") &&
      bfIds.values.toSeq.sorted == bfIds.values.toSeq.sorted.distinct)
    val bfLt = TokenizerFiles.loadTokenizer(spark, out4)
      .asInstanceOf[TokenizerFiles.ColumnTokenizer]
    // 'z' never appeared in the training corpus → byte piece; trained
    // symbols still encode as themselves
    val bfEnc = Seq("the zz").toDF("text")
      .select(bfLt.encode(col("text"))).head().getSeq[String](0)
    assert(bfEnc == Seq("▁the", "▁ <0x7A> <0x7A>"), s"got $bfEnc")
  }
}
