package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io.{Readers, Writers, Xlsx}
import graft.ops.{Acc, Normalize, TimeOps}
import graft.pipeline.Pipelines

/** Stage CLI — one spark-submit-able main reproducing the reference's
  * script workflow and its file-layout / skip-if-exists contracts
  * (VERDICT r2 item 3). Subcommands map 1:1 to the reference scripts:
  *
  *   organize   — organize_raw_files.{sh,py}:63-170: unzip, make per-date
  *                dirs, sort .json files into them
  *   reformat   — raw_data_reformat.py:204-264: raw JSON dir →
  *                `0_<dir>_{measurements,ppg,ac}.csv` (skip when present),
  *                optional clock alignment from a computed workbook (-e,
  *                read natively via [[graft.io.Xlsx]]) or a
  *                timestamp-diff file (-t); writes `timestamp_diff.txt`
  *                two levels up exactly as adjust_time does (:51-55)
  *   acc        — acc_reformat.py:8-86: ac CSV →
  *                `0_<dir>_ac_reformatted.csv` (skip when present)
  *   filter     — filtering_data.py:126-221: computed xlsx/csv →
  *                flatline-filtered, range-clamped CSV
  *   categorize — activity_categorize.py:209-343: measurements + acc →
  *                `<stem>_sleep_acc_thresholds.csv`,
  *                `<stem>_acc_category.csv`,
  *                `<stem>_activity_categorized.csv` (with `--acc_cat`
  *                skipping the first two, as the reference does)
  *   all        — the four stages chained over one directory tree
  *
  * CSV outputs are single files with the reference's exact names — written
  * through one task, which is the right shape for per-subject-day outputs
  * (they are small by construction). `--parquet` additionally writes the
  * measurements as a date-partitioned parquet layout, which is the scale
  * path (partition pruning at read; S7).
  */
object Run {

  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { println(help); return }
    val (cmd, rest) = (args.head, args.tail.toSeq)
    if (cmd == "-h" || cmd == "--help" || cmd == "help") {
      println(help); return
    }
    val opts = parseOpts(rest)
    cmd match {
      case "organize" => organize(opts)
      case "reformat" => reformat(sparkSession(), opts)
      case "acc" => acc(sparkSession(), opts)
      case "filter" => filterCmd(sparkSession(), opts)
      case "categorize" => categorize(sparkSession(), opts)
      case "all" => all(sparkSession(), opts)
      case "curate" => curateCmd(sparkSession(), opts)
      case "export" => exportCmd(sparkSession(), opts)
      case "train-tokenizer" => trainTokenizerCmd(sparkSession(), opts)
      case other =>
        System.err.println(s"Unknown subcommand: $other\n$help")
        sys.exit(2)
    }
  }

  private def help: String =
    """graft.Run <organize|reformat|acc|filter|categorize|all> [options]
      |  organize   -d <dir> -o <stem> [-j] [-c]
      |  reformat   -d <json dir> [-e <computed.xlsx>] [-t <tdiff file>] [--tz <zone>] [--parquet]
      |  acc        -f <ac csv> [-b <bin seconds>]
      |  filter     -f <file> | -d <dir> [-p <pattern>] -s <save.csv>
      |  categorize -f <file|dir> [-e <ext>] -a <acc file|dir> | --acc_cat <csv> -s <stem>
      |  all        -d <root dir> [-o <stem>] [-e <computed.xlsx>] [--parquet]
      |  curate     -d <docs parquet> -s <out dir> [--min-quality <q>]
      |             [--min-jaccard <j>] [--min-compression <r>]
      |             [--fuzzy-decon] [--fuzzy-jaccard <j>]
      |             [--max-per-domain <n>] [--url-col <c>] [--psl]
      |             [--prior <parquet>] [--fuzzy-prior]
      |             [--token-budget <n>] [--blocklist <w1,w2,...>]
      |             [--max-blocklist-fraction <f>]
      |             [--allow-licenses <l1,l2,...>] [--drop-damaged]
      |             [--c4-lines] [--script-aware] [--paragraph-dedup]
      |             [--lang-model <nb model parquet>] [--lang <label>]
      |             [--lang-router] [--fix-encoding]
      |             [--canonical-collapse] [--html-col <c>]
      |             [--sem-dedup <embs parquet>] [--sem-whiten]
      |             [--sem-min-cosine <c>] [--sem-pca-k <k>]
      |             [--sem-decon <eval embs parquet>]
      |             [--sem-decon-embs <embs parquet>]
      |             [--sem-decon-min-cosine <c>] [--sem-decon-multiprobe]
      |             [--ppl-ref <docs parquet>] [--max-nll <x>]
      |             [--shards <n>] [--audit]
      |  export     -d <docs parquet> -s <out dir>
      |             [--format tfrecord|webdataset] [--max-tokens <n>]
      |             [--shards <n>] [--min-quality <q>]
      |             [--packer greedy|bfd|grouped:<col>]
      |             [--tokenizer <tokenizer file>]
      |  train-tokenizer -d <docs parquet> -s <tokenizer.json>
      |             [--family metaspace|byte_level|whitespace|unigram]
      |             [--merges <n>] [--vocab-size <n>] [--rounds <n>]
      |             [--metaspace] [--byte-fallback]
      |Repeated or large runs: start the JVM with
      |  -Dspark.sql.codegen.cache.maxEntries=2000 (default 100; README,
      |  "Codegen cache sizing") so generated code is not compiled again.""".stripMargin

  /** getopt-lite: `-x val` / `--long val` for value opts, bare flags for
    * booleans (the reference's flag set). */
  private val BoolFlags = Set("-v", "-r", "-j", "-c", "-h", "--help",
    "--parquet", "--audit", "--fuzzy-decon", "--psl", "--fuzzy-prior",
    "--drop-damaged", "--c4-lines", "--script-aware", "--paragraph-dedup",
    "--lang-router", "--fix-encoding", "--canonical-collapse",
    "--sem-whiten", "--metaspace", "--sem-decon-multiprobe",
    "--byte-fallback")
  private def parseOpts(args: Seq[String]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (BoolFlags(a)) { out += a -> "true"; i += 1 }
      else if (a.startsWith("-") && i + 1 < args.length) {
        out += a -> args(i + 1); i += 2
      } else i += 1
    }
    out.result()
  }

  private def sparkSession(): SparkSession = {
    // respect an external master (spark-submit / env); default local
    val conf = new org.apache.spark.SparkConf()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val b = SparkSession.builder().appName("graft-run")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val s = (if (conf.contains("spark.master")) b
             else b.master(s"local[$cpus]")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---- shared IO helpers -------------------------------------------------

  /** Single-file CSV with the reference's exact name: write through one
    * task into a scratch dir, move the part file onto the target. Compat
    * path only — per-subject-day outputs are small by construction; the
    * scale path is `--parquet`. */
  private[graft] def writeSingleCsv(df: DataFrame, target: Path): Unit = {
    val tmp = Files.createTempDirectory(
      target.getParent, "." + target.getFileName.toString)
    stringifyComplex(df).coalesce(1).write
      .option("header", "true")
      .option("timestampFormat", TsFmt)
      .mode("overwrite")
      .csv(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".csv"))
      .getOrElse(sys.error(s"no csv part produced under $tmp"))
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    Files.list(tmp).iterator().asScala.foreach(Files.delete)
    Files.delete(tmp)
  }

  /** Array columns → the reference's `str(list)` form ("[1.0, 2.0]") so
    * CSV round-trips through [[Normalize.parseListString]] /
    * `literal_eval` (acc_reformat.py:66). */
  private def stringifyComplex(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) {
      case (d, StructField(name, _: ArrayType, _, _)) =>
        d.withColumn(name, concat(lit("["),
          array_join(transform(col(name), _.cast("string")), ", "),
          lit("]")))
      case (d, _) => d
    }

  private def readCsv(spark: SparkSession, path: String,
                      schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true")
      .option("timestampFormat", TsFmt.replace(".SSSSSS", "[.SSSSSS]"))
      .csv(path)

  private def globExists(dir: Path, pattern: String): Boolean = {
    val m = dir.getFileSystem.getPathMatcher("glob:" + pattern)
    Files.list(dir).iterator().asScala
      .exists(p => m.matches(p.getFileName))
  }

  /** date/time columns re-derived from date_time, then the reference's
    * CSV column order (kind,data,jname,date_time,date,time — pandas keeps
    * the pre-melt frame's order, raw_data_reformat.py:58-65,87). */
  private def refLayout(df: DataFrame): DataFrame =
    df.withColumn("date", to_date(col("date_time")))
      .withColumn("time", date_format(col("date_time"), "HH:mm:ss.SSSSSS"))
      .select("kind", "data", "jname", "date_time", "date", "time")

  // ---- organize (organize_raw_files.py:63-170) --------------------------

  private val DatePattern = """\d{4}-\d{2}-\d{2}""".r

  private def organize(opts: Map[String, String]): Unit = {
    val dir = Paths.get(opts.getOrElse("-d",
      exit2("Missing -d argument")))
    val stemArg = opts.getOrElse("-o", exit2("Missing -o argument"))
    val json = opts.contains("-j")
    // -c: auto-detect the stem from computed .xlsx names (:21-43)
    val stem =
      if (opts.contains("-c")) {
        val names = Files.list(Paths.get(stemArg)).iterator().asScala
          .map(_.getFileName.toString).filter(_.endsWith(".xlsx"))
          .map(n => n.stripSuffix(".xlsx"))
          .map(n => n.substring(0, math.max(0, n.length - 11)))
          .toSet
        if (names.size != 1)
          exit2(s"Could not auto-detect a unique stem: $names")
        names.head
      } else stemArg
    if (!json) {
      // unzip all archives in place (extract_zip, :7-20)
      Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".zip")).foreach { z =>
          val zin = new java.util.zip.ZipInputStream(
            Files.newInputStream(z))
          try {
            var e = zin.getNextEntry
            while (e != null) {
              val out = dir.resolve(e.getName).normalize()
              require(out.startsWith(dir), s"zip-slip entry: ${e.getName}")
              if (e.isDirectory) Files.createDirectories(out)
              else {
                Files.createDirectories(out.getParent)
                Files.copy(zin, out, StandardCopyOption.REPLACE_EXISTING)
              }
              e = zin.getNextEntry
            }
          } finally zin.close()
        }
    }
    // per-date dirs + move (make_dirs/sort_files, :44-60)
    var moved = 0
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json")).toSeq
      .foreach { f =>
        DatePattern.findFirstIn(f.getFileName.toString).foreach { d =>
          val dst = dir.resolve(s"${stem}_$d")
          Files.createDirectories(dst)
          Files.move(f, dst.resolve(f.getFileName),
            StandardCopyOption.REPLACE_EXISTING)
          moved += 1
        }
      }
    println(s"All files sorted. Total files moved: $moved")
  }

  // ---- reformat (raw_data_reformat.py:204-264) --------------------------

  private def reformat(spark: SparkSession, opts: Map[String, String],
                       dirOverride: Option[Path] = None): Unit = {
    val dir = dirOverride.getOrElse(Paths.get(opts.getOrElse("-d",
      exit2("Directory containing all .json files is not defined."))))
    if (!Files.isDirectory(dir)) exit2(s"Invalid path: $dir")
    if (!Files.list(dir).iterator().hasNext) {
      println("Empty directory, skipping."); return
    }
    // skip-if-exists contract (:248, :263-264)
    if (globExists(dir, "0_*_measurements.csv") &&
        globExists(dir, "0_*_ppg.csv") && globExists(dir, "0_*_ac.csv")) {
      println("Files exist, skipping."); return
    }
    val refEpochMs = opts.get("-e").map { xlsx =>
      Xlsx.loadComputed(spark, xlsx)
        .agg(min("date_time")).head().getTimestamp(0).getTime
    }
    val offsetMs = opts.get("-t").map(f =>
      Files.readAllLines(Paths.get(f)).get(0).trim.toLong)
    val zone = opts.getOrElse("--tz", "UTC")
    val out = Pipelines.reformat(spark, dir.toString, refEpochMs, offsetMs,
      zone)
    // adjust_time persists the derived offset two levels up (:51-55)
    val tdiffDir = Option(dir.toAbsolutePath.getParent)
      .flatMap(p => Option(p.getParent))
    tdiffDir.filter(Files.isDirectory(_)).foreach(p =>
      Files.writeString(p.resolve("timestamp_diff.txt"),
        out.offsetMs.toString))
    val base = dir.getFileName.toString
    writeSingleCsv(refLayout(out.measurements)
      .orderBy("kind", "date_time"),
      dir.resolve(s"0_${base}_measurements.csv"))
    writeSingleCsv(refLayout(out.ppg), dir.resolve(s"0_${base}_ppg.csv"))
    writeSingleCsv(refLayout(out.ac).orderBy("date_time"),
      dir.resolve(s"0_${base}_ac.csv"))
    if (opts.contains("--parquet"))
      Writers.partitionedParquet(
        out.measurements.withColumn("date", to_date(col("date_time"))),
        dir.resolve(s"0_${base}_measurements.parquet").toString,
        Seq("date"))
  }

  // ---- acc (acc_reformat.py:8-86) ---------------------------------------

  private val AcCsvSchema = StructType(Seq(
    StructField("kind", StringType), StructField("data", StringType),
    StructField("jname", StringType),
    StructField("date_time", TimestampType),
    StructField("date", DateType), StructField("time", StringType)))

  private def acc(spark: SparkSession, opts: Map[String, String],
                  fileOverride: Option[Path] = None): Unit = {
    val file = fileOverride.getOrElse(
      Paths.get(opts.getOrElse("-f", exit2("Missing file name."))))
    val binSize = opts.get("-b").map(_.toInt).getOrElse(300)
    val base = file.toAbsolutePath.getParent.getFileName.toString
    val out = file.toAbsolutePath.getParent
      .resolve(s"0_${base}_ac_reformatted.csv")
    if (Files.exists(out)) { println(s"$out already exist, skipping."); return }
    val tall = Normalize.parseListString(
      readCsv(spark, file.toString, AcCsvSchema), "data")
    val wide = Pipelines.accReformat(tall, Nil, binSize)
      .select("date_time", "acx", "acy", "acz", "seconds", "bin", "g_force")
      .orderBy("date_time")
    writeSingleCsv(wide, out)
  }

  // ---- filter (filtering_data.py:126-221) -------------------------------

  private val ComputedCsvSchema = StructType(Seq(
    StructField("date_time", TimestampType),
    StructField("kind", StringType), StructField("data", StringType)))

  private def loadComputedAny(spark: SparkSession, paths: Seq[String])
      : DataFrame = {
    val (xlsx, csv) = paths.partition(_.endsWith(".xlsx"))
    val frames =
      xlsx.map(p => Xlsx.loadComputed(spark, p)
        .select("date_time", "kind", "data")) ++
      csv.map(p => readCsv(spark, p, ComputedCsvSchema))
    frames.reduceOption(_ unionByName _)
      .getOrElse(exit2("No input files."))
      .withColumn("data", col("data").cast(DoubleType))
  }

  private def filterCmd(spark: SparkSession, opts: Map[String, String])
      : Unit = {
    val save = opts.getOrElse("-s",
      exit2("Output file name or directory not provided (-s)"))
    val files = inputFiles(opts, opts.getOrElse("-p", "*.xlsx"))
    val filtered = Pipelines.filterNoise(loadComputedAny(spark, files))
      .orderBy("kind", "date_time")
    writeSingleCsv(filtered.select("date_time", "kind", "data"),
      Paths.get(save))
  }

  /** -f file | -f dir | -d dir, matching the reference's tolerant
    * argument handling (activity_categorize.py:247-253). */
  private def inputFiles(opts: Map[String, String],
                         pattern: String): Seq[String] =
    opts.get("-f").filter(f => Files.isRegularFile(Paths.get(f)))
      .map(Seq(_)).getOrElse {
      val dir = Paths.get(opts.get("-f").filter(f =>
          Files.isDirectory(Paths.get(f)))
        .orElse(opts.get("-d"))
        .getOrElse(exit2("Require either -d or -f.")))
      val m = dir.getFileSystem.getPathMatcher("glob:" + pattern)
      val fs = Files.list(dir).iterator().asScala
        .filter(p => m.matches(p.getFileName)).map(_.toString)
        .toSeq.sorted
      if (fs.isEmpty)
        exit2(s"No file with pattern \"$pattern\" found within $dir.")
      fs
    }

  // ---- categorize (activity_categorize.py:209-343) ----------------------

  private val AccWideSchema = StructType(Seq(
    StructField("date_time", TimestampType),
    StructField("acx", DoubleType), StructField("acy", DoubleType),
    StructField("acz", DoubleType), StructField("seconds", DoubleType),
    StructField("bin", IntegerType), StructField("g_force", DoubleType)))

  private val AccCatSchema = StructType(Seq(
    StructField("start_time", TimestampType),
    StructField("end_time", TimestampType),
    StructField("category", StringType)))

  private def categorize(spark: SparkSession, opts: Map[String, String])
      : Unit = {
    val stem = opts.getOrElse("-s", exit2("Missing -s save stem."))
    val ext = opts.getOrElse("-e", "csv")
    val measurements = loadComputedAny(spark,
      inputFiles(opts, s"*.$ext"))
    def writeTimeline(timeline: DataFrame): Unit =
      writeSingleCsv(timeline
        .select("start_time", "end_time", "category").orderBy("start_time"),
        Paths.get(s"${stem}_activity_categorized.csv"))
    opts.get("--acc_cat") match {
      case Some(catFile) =>
        // pre-categorized acc: skip thresholds + categorization (:285-286)
        val cat = readCsv(spark, catFile, AccCatSchema)
        writeTimeline(Pipelines.timelineFromCategorized(
          Pipelines.sleepIntervals(measurements), cat))
      case None =>
        val accPaths = opts.get("-a").map { a =>
          val p = Paths.get(a)
          if (Files.isDirectory(p))
            Files.walk(p).iterator().asScala
              .filter(_.getFileName.toString.endsWith("ac_reformatted.csv"))
              .map(_.toString).toSeq.sorted
          else Seq(a)
        }.getOrElse(exit2("Missing -a or --acc_cat."))
        val accWide = accPaths.map(p => readCsv(spark, p, AccWideSchema))
          .reduce(_ unionByName _)
        val out = Pipelines.categorizeFull(measurements, accWide)
        try {
          val band = out.band.collect()
          require(band.nonEmpty, "categorize: no accelerometer sample " +
            "falls inside the net sleep intervals, so there is no resting " +
            "band to categorize against")
          Files.writeString(Paths.get(s"${stem}_sleep_acc_thresholds.csv"),
            s"lower_threshold,${band(0).getAs[Double]("lo")}\n" +
              s"upper_threshold,${band(0).getAs[Double]("hi")}\n")
          writeSingleCsv(out.categorizedAcc
            .select("start_time", "end_time", "category")
            .orderBy("start_time"),
            Paths.get(s"${stem}_acc_category.csv"))
          writeTimeline(out.timeline)
        } finally out.unpersist()
    }
  }

  // ---- all: the four stages chained over one tree -----------------------

  /** `curate` — the training-data side of the CLI (engine extension):
    * E4 doc curation over a documents parquet (gate → dedup → near-dup →
    * split → decontaminate), written as parquet; `--shards n` ALSO lays
    * the curated set out as a sorted training-shard tree
    * ([[graft.io.Writers.shardedTrainingSet]]); `--audit` writes the
    * four release-audit reports ([[Pipelines.releaseAudit]]) as single
    * CSVs beside the output (small by construction — report frames). */
  private def curateCmd(spark: SparkSession,
                        opts: Map[String, String]): Unit = {
    val in = opts.getOrElse("-d", exit2("Input docs parquet (-d) missing."))
    val outDir = Paths.get(opts.getOrElse("-s", exit2("Out dir (-s) missing.")))
    val docs = spark.read.parquet(in)
    val curated = Pipelines.curate(docs,
      minQuality = opts.get("--min-quality").map(_.toDouble).getOrElse(0.3),
      minJaccard = opts.get("--min-jaccard").map(_.toDouble).getOrElse(0.8),
      minCompressionRatio =
        opts.get("--min-compression").map(_.toDouble),
      fuzzyDecontaminate = opts.contains("--fuzzy-decon"),
      fuzzyMinJaccard =
        opts.get("--fuzzy-jaccard").map(_.toDouble).getOrElse(0.5),
      maxPerDomain = opts.get("--max-per-domain").map(_.toInt),
      urlCol = opts.getOrElse("--url-col", "url"),
      // --psl: group the per-domain cap by the shipped PSL excerpt's
      // rules instead of the two-level-ccTLD heuristic
      domainSuffixes = if (opts.contains("--psl"))
        Some(graft.text.UrlOps.PslSuffixes) else None,
      // --prior: incremental-ingest mode against an existing corpus
      // (exact digest anti-join; --fuzzy-prior adds the near-dup gate)
      priorCorpus = opts.get("--prior").map(spark.read.parquet(_)),
      fuzzyPrior = opts.contains("--fuzzy-prior"),
      tokenBudget = opts.get("--token-budget").map(_.toLong),
      // --blocklist: unsafe-word gate; --allow-licenses: keep only the
      // listed detectLicense classes (e.g. 'mit,apache-2.0,unknown')
      blockWords = opts.get("--blocklist")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq),
      maxBlocklistFraction = opts.get("--max-blocklist-fraction")
        .map(_.toDouble).getOrElse(0.0),
      allowLicenses = opts.get("--allow-licenses")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq),
      // --drop-damaged: q157's encoding-damage gate (U+FFFD or stray C0
      // controls), first among the optional stage-1 predicates
      dropDamaged = opts.contains("--drop-damaged"),
      // --c4-lines: q168's line-level cleanup before doc scoring;
      // --paragraph-dedup: q169's corpus-wide paragraph dedup before
      // the doc-level dedups
      c4Lines = opts.contains("--c4-lines"),
      // --script-aware: CJK-safe line word counts + full-width enders
      scriptAware = opts.contains("--script-aware"),
      dedupParagraphs = opts.contains("--paragraph-dedup"),
      // --lang-model: a trained naiveBayesTrain parquet routes the
      // language gate (nbClassify argmax == --lang) instead of the
      // langIdEn heuristic
      langModel = opts.get("--lang-model").map(spark.read.parquet(_)),
      lang = opts.getOrElse("--lang", "en"),
      // --lang-router: the multilingual char-n-gram profile router
      // gates by --lang instead of the English-only heuristic
      langRouter = opts.contains("--lang-router"),
      // --fix-encoding: the ftfy-style mojibake repair before any gate
      // (heal UTF-8-as-cp1252 damage instead of dropping the doc)
      fixEncoding = opts.contains("--fix-encoding"),
      // --canonical-collapse: q215's mirror dedup on the declared
      // rel=canonical BEFORE content hashing (needs url + html cols)
      canonicalCollapse = opts.contains("--canonical-collapse"),
      htmlCol = opts.getOrElse("--html-col", "html"),
      // --sem-dedup: embedding SemDeDup after the text dedups
      // (doc_id, embedding parquet); --sem-whiten adds the PCA
      // whitening comparison space
      semDedupEmbs = opts.get("--sem-dedup").map(spark.read.parquet(_)),
      semDedupMinCosine = opts.get("--sem-min-cosine")
        .map(_.toDouble).getOrElse(0.95),
      semDedupWhiten = opts.contains("--sem-whiten"),
      semDedupPcaK = opts.get("--sem-pca-k").map(_.toInt).getOrElse(16),
      // --sem-decon: eval/benchmark embeddings — drop survivors within
      // --sem-decon-min-cosine of any of them; doc vectors come from
      // --sem-decon-embs or fall back to the --sem-dedup frame
      semDeconEvalEmbs = opts.get("--sem-decon")
        .map(spark.read.parquet(_)),
      semDeconEmbs = opts.get("--sem-decon-embs")
        .map(spark.read.parquet(_)),
      semDeconMinCosine = opts.get("--sem-decon-min-cosine")
        .map(_.toDouble).getOrElse(0.95),
      // --sem-decon-multiprobe: one-bit-flip bucket probing (recall
      // recovery at planes+1 eval-side bucket rows)
      semDeconMultiProbe = opts.contains("--sem-decon-multiprobe"),
      // --ppl-ref: trusted reference corpus for the CCNet perplexity
      // gate; survivors with mean bigram NLL above --max-nll drop
      pplRef = opts.get("--ppl-ref").map(spark.read.parquet(_)),
      pplMaxNll = opts.get("--max-nll").map(_.toDouble).getOrElse(12.0))
    Files.createDirectories(outDir)
    curated.write.mode("overwrite")
      .parquet(outDir.resolve("curated.parquet").toString)
    val back = spark.read.parquet(outDir.resolve("curated.parquet").toString)
    opts.get("--shards").map(_.toInt).foreach { n =>
      // shard ONLY the train split: the shard tree's row order is the
      // epoch read order, and sharding val/test would feed the held-out
      // splits straight back into training
      graft.io.Writers.shardedTrainingSetWithManifest(
        back.filter(col("split") === "train"),
        outDir.resolve("shards").toString, nShards = n)
    }
    if (opts.contains("--audit")) {
      val audit = Pipelines.releaseAudit(back)
      writeSingleCsv(audit.card.orderBy("source"),
        outDir.resolve("audit_card.csv"))
      writeSingleCsv(audit.leakage.orderBy("id_a", "id_b"),
        outDir.resolve("audit_leakage.csv"))
      writeSingleCsv(audit.boilerplate.orderBy("doc_id"),
        outDir.resolve("audit_boilerplate.csv"))
      writeSingleCsv(audit.zipf, outDir.resolve("audit_zipf.csv"))
    }
    println(s"curated=${back.count()} -> $outDir")
  }

  private def all(spark: SparkSession, opts: Map[String, String]): Unit = {
    val root = Paths.get(opts.getOrElse("-d", exit2("Missing -d.")))
    val stem = opts.getOrElse("-o", "subject")
    // stage 0: loose json/zip files → per-date dirs
    if (globExists(root, "*.json") || globExists(root, "*.zip"))
      organize(Map("-d" -> root.toString, "-o" -> stem) ++
        (if (globExists(root, "*.zip")) Map.empty[String, String]
         else Map("-j" -> "true")))
    // stage 1+2 per date dir: reformat then acc-reformat
    val dateDirs = Files.list(root).iterator().asScala
      .filter(Files.isDirectory(_)).toSeq.sortBy(_.toString)
    dateDirs.foreach { d =>
      if (globExists(d, "*.json")) {
        reformat(spark, opts - "-d", dirOverride = Some(d))
        Files.list(d).iterator().asScala
          .find(_.getFileName.toString.matches("0_.*_ac\\.csv"))
          .foreach(f => acc(spark, Map.empty, fileOverride = Some(f)))
      }
    }
    // stage 3+4: with a computed workbook, filter it then categorize
    // against every ac_reformatted table under the tree
    opts.get("-e").foreach { xlsx =>
      val filteredOut = root.resolve(s"${stem}_filtered.csv")
      filterCmd(spark, Map("-f" -> xlsx, "-s" -> filteredOut.toString))
      categorize(spark, Map("-f" -> filteredOut.toString,
        "-a" -> root.toString, "-s" -> root.resolve(stem).toString))
    }
    println("All stages complete.")
  }

  // ---- export: curate → pack → trainer-ready shards (E9) ----------------
  /** `Run export -d docs.parquet -s outdir [--format tfrecord|webdataset]
    * [--max-tokens N] [--shards N] [--min-quality Q]
    * [--packer greedy|bfd|grouped:<col>]` — the CLI face of
    * [[Pipelines.exportTrainingShards]]: what lands under
    * `outdir/shards/` is what a dataloader streams; the shard manifest
    * is written beside it as one CSV. `webdataset` exports the curated
    * docs as `<doc_id>.txt` tar members instead. */
  private def exportCmd(spark: SparkSession,
                        opts: Map[String, String]): Unit = {
    val in = opts.getOrElse("-d", exit2("Input docs parquet (-d) missing."))
    val outDir = Paths.get(opts.getOrElse("-s", exit2("Out dir (-s) missing.")))
    val docs = spark.read.parquet(in)
    Files.createDirectories(outDir)
    val shardsDir = outDir.resolve("shards").toString
    val minQ = opts.get("--min-quality").map(_.toDouble).getOrElse(0.3)
    val manifest = opts.getOrElse("--format", "tfrecord") match {
      case "tfrecord" =>
        Pipelines.exportTrainingShards(docs, shardsDir,
          maxTokens =
            opts.get("--max-tokens").map(_.toLong).getOrElse(1024L),
          nShards = opts.get("--shards").map(_.toInt).getOrElse(8),
          minQuality = minQ,
          packer = opts.getOrElse("--packer", "greedy"),
          // --tokenizer: pack by the REAL token count of a shipped
          // tokenizer file instead of the whitespace proxy
          tokenizerPath = opts.get("--tokenizer"))
      case "webdataset" =>
        graft.io.WebDataset.writeWebDatasetShards(
          Pipelines.curate(docs, minQuality = minQ)
            .select(col("doc_id").cast("string").as("key"),
              col("text").as("txt")),
          shardsDir)
      case other => exit2(s"Unknown --format: $other")
    }
    writeSingleCsv(manifest, outDir.resolve("shard_manifest.csv"))
    println(s"Export complete: $shardsDir")
  }

  /** `train-tokenizer`: learn a BPE merge table from the corpus in the
    * chosen pre-tokenizer family and ship it as a HuggingFace
    * `tokenizer.json` (vocab = sorted corpus alphabet + merged symbols
    * in rank order) that [[graft.text.TokenizerFiles.loadTokenizer]]
    * reads straight back — the corpus-to-shipped-tokenizer command.
    * Trainer cost is one corpus pair-count pass per merge (the
    * [[graft.text.TextOps.bpeTrain]] ledger); the alphabet collect is
    * bounded by the corpus code-point inventory (capped). */
  private def trainTokenizerCmd(spark: SparkSession,
                                opts: Map[String, String]): Unit = {
    import graft.text.{TextOps, TokenizerFiles}
    val in = opts.getOrElse("-d", exit2("Input docs parquet (-d) missing."))
    val out = opts.getOrElse("-s",
      exit2("Output tokenizer.json (-s) missing."))
    val family = opts.getOrElse("--family", "metaspace")
    val nMerges = opts.get("--merges").map(_.toInt).getOrElse(64)
    val byteFallback = opts.contains("--byte-fallback")
    if (byteFallback && family != "metaspace" && family != "whitespace")
      exit2("--byte-fallback applies to the metaspace/whitespace " +
        "families (byte_level's alphabet already covers every byte; " +
        "the unigram trainer has no byte-piece leg)")
    val docs = spark.read.parquet(in)
    if (family == "unigram") {
      // the SentencePiece-style EM trainer: --vocab-size pieces after
      // --rounds EM/prune rounds, shipped as a Unigram tokenizer.json.
      // --metaspace declares the ▁ pre-tokenizer for the T5 shape AND
      // trains on the ▁-form word domain — the shipped file's declared
      // domain must be the one the vocab was learned on, or the loaded
      // tokenizer could never segment its own pre-tokens
      val target = opts.get("--vocab-size").map(_.toInt).getOrElse(200)
      val rounds = opts.get("--rounds").map(_.toInt).getOrElse(2)
      val metaspace = opts.contains("--metaspace")
      val pre: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (metaspace) c => TextOps.metaspacePreTokens(lower(c))
        else TextOps.wordDomain
      val vocab = TextOps.unigramTrain(docs, target, rounds,
          preTokens = pre)
        .orderBy("piece").collect()
        .map(r => (r.getString(0), r.getDouble(2))).toSeq
      // the metaspace trainer lowercased before the ▁ split, so the
      // shipped file DECLARES Lowercase — loadTokenizer composes it
      // back in front of metaspacePreTokens and the loaded tokenizer
      // segments exactly the domain the vocab was learned on
      TokenizerFiles.writeTokenizerJsonUnigram(spark, out, vocab,
        metaspace = metaspace,
        normalizers = if (metaspace) Seq("Lowercase") else Nil)
      println(s"Trained unigram vocab ${vocab.size} -> $out")
      return
    }
    // the pre-token form per family — the alphabet the merges live in
    val pre: org.apache.spark.sql.Column = family match {
      case "metaspace" => TextOps.metaspacePreTokens(col("text"))
      case "byte_level" => transform(TextOps.gpt2PreTokens(col("text")),
        t => graft.functions.VectorExpressions.gpt2Bytes(t))
      case "whitespace" =>
        filter(TextOps.wsTokens(lower(col("text"))), t => length(t) > 0)
      case other => exit2(s"Unknown --family: $other")
    }
    val merges = (family match {
      case "metaspace" => TextOps.bpeTrainMetaspace(docs, nMerges)
      case "byte_level" => TextOps.bpeTrainByteLevel(docs, nMerges)
      case _ => TextOps.bpeTrain(docs, nMerges)
    }).orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    if (merges.isEmpty) exit2("Corpus yielded no merges (empty text?).")
    // alphabet: distinct code points of the pre-token forms (the
    // trainers' own "(.)" code-point split), a corpus-inventory-sized
    // collect with a sanity cap
    val alpha = docs.filter(col("text").isNotNull)
      .select(explode(pre).as("w"))
      .select(explode(split(
        rtrim(regexp_replace(col("w"), "(.)", "$1 ")), " ")).as("ch"))
      .filter(length(col("ch")) > 0)
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    require(alpha.size <= 65536, s"alphabet too large: ${alpha.size}")
    val vocab0 = (alpha ++ merges.map { case (a, b) => a + b }).distinct
    // --byte-fallback: ship the 256 <0xXX> pieces too and declare the
    // flag, so the loaded tokenizer prices text outside the trained
    // alphabet as byte pieces instead of bare OOV symbols (the Llama
    // shape; loadTokenizer composes the rewrite back on read)
    val vocab = (vocab0 ++ (if (byteFallback)
        (0 until 256).map(b => f"<0x$b%02X>")
          .filterNot(vocab0.contains)
      else Nil)).zipWithIndex
    TokenizerFiles.writeTokenizerJsonBpe(spark, out, merges, vocab,
      preTokenizer = family, byteFallback = byteFallback)
    println(s"Trained ${merges.size} merges, vocab ${vocab.size} -> $out")
  }

  private def exit2(msg: String): Nothing = {
    println(msg); sys.exit(2)
  }
}
