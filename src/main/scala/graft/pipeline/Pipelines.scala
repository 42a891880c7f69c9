package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.io.Readers
import graft.ops._

/** The reference's three entry points (SURVEY.md §3, E1-E3) as lazy
  * DataFrame compositions. Each stage is one declarative DAG — the CSV
  * hand-offs of the reference become plain DataFrame values (persist them
  * with [[graft.io.Writers]] if the on-disk contract is needed).
  *
  * All window/island steps take `partitionCols` so multi-subject corpora
  * parallelise; the reference is implicitly single-subject per run
  * (organize_raw_files.sh:3), which is the empty-partition case.
  */
object Pipelines {

  /** The three tables of one [[reformat]] call. They share one parse of
    * the raw JSON, which is dropped when all three are unreferenced. */
  case class ReformatOut(measurements: DataFrame, ppg: DataFrame,
                         ac: DataFrame, offsetMs: Long)

  /** E1 — raw_data_reformat.py (/root/reference/raw_data_reformat.py:204-264):
    * glob-scan watch JSON, align the watch clock, convert epoch-ms, split
    * and normalize the tagged-union payloads.
    *
    * The JSON is parsed once per call: the scan is a lazy disk-only local
    * checkpoint (the E4 pattern), so the offset derivation and all three
    * outputs read the same blocks. No job fires while the frames are
    * built; the first action parses the files and stores the blocks, and
    * the blocks are released once the frames are unreferenced, so callers
    * have nothing to unpersist.
    *
    * The parse itself ([[Readers.loadRawJson]]) reads each file once as
    * whole UTF-8 text and parses it in memory; non-string payload text
    * arrives Jackson-printed (`71.00` as `71.0`), which the normalizers
    * parse to the same doubles. The checkpoint stays although the parse is
    * now cheap: without it the three outputs each parse again, and a
    * prototype without it measured no clear gain.
    *
    * @param refEpochMs optional reference-clock instant (the Excel min time
    *                   in the reference) from which the offset is derived
    * @param offsetMs   explicit offset (the reference's `-t`); wins over
    *                   refEpochMs
    */
  def reformat(spark: SparkSession, inputDir: String,
               refEpochMs: Option[Long] = None,
               offsetMs: Option[Long] = None,
               zone: String = "UTC"): ReformatOut = {
    // DISK_ONLY: a memory-backed checkpoint raises the heap peak and the
    // blocks are read back once per output anyway
    val raw = Readers.loadRawJson(spark, inputDir)
      .localCheckpoint(eager = false, StorageLevel.DISK_ONLY)
    val offset = offsetMs
      .orElse(refEpochMs.map(r => TimeOps.deriveClockOffsetMs(raw, r)))
      .getOrElse(0L)
    val converted = TimeOps.convertDateTime(raw, offset, zone)
    ReformatOut(
      measurements = Normalize.normalizeMeasurements(converted),
      ppg = Normalize.waveforms(converted, Normalize.PpgKinds),
      ac = Normalize.waveforms(converted, Normalize.AccKinds),
      offsetMs = offset)
  }

  /** E2 — filtering_data.py (/root/reference/filtering_data.py:126-221):
    * drop flatlined time ranges (hr run-length > 20), then clamp vitals to
    * physiological ranges. A row is kept only by an include interval of its
    * own `partitionCols` key.
    *
    * The include intervals join through the binned point-in-interval join
    * ([[Filters.pointInIntervalBinned]], hour bins, equi-key (partitionCols,
    * bin)): a hash join, where the plain range join planned a nested loop
    * of every measurement row against every include interval. */
  def filterNoise(measurements: DataFrame,
                  partitionCols: Seq[String] = Nil,
                  flatlineKind: String = "hr",
                  maxRun: Int = 20,
                  ranges: Map[String, (Double, Double)] =
                    Filters.VitalRanges): DataFrame = {
    val hr = measurements.filter(col("kind") === flatlineKind)
    val include = Filters
      .flatlineIntervals(hr, "date_time", "data", partitionCols, maxRun)
      .filter(col("include"))
      .select((partitionCols.map(col) :+ col("start_time") :+
        col("end_time")): _*)
    val kept = Filters.pointInIntervalBinned(measurements, include,
      "date_time", keys = partitionCols)
    Filters.clampKinds(kept, ranges)
  }

  /** E2.5 — acc_reformat.py: align the 3 axis streams, smooth, derive
    * seconds/bin/g-force. */
  def accReformat(acTall: DataFrame, partitionCols: Seq[String],
                  binSize: Int = 300): DataFrame =
    Acc.accDerived(Acc.alignAxes(acTall, partitionCols), binSize)

  /** E3 stage 1 — net sleep intervals
    * (/root/reference/activity_categorize.py:291-304): dedup-consecutive
    * cumulative counter → counter-reset intervals → merge → minus trailing
    * 10-minute step windows.
    *
    * One filtered scan reads the `sleep_total` and `step` rows; windows over
    * (partitionCols, kind), ordered by time, turn each kept counter row into
    * its counter interval and each positive step row into its trailing
    * window (step rows are never deduplicated). One 2-counter
    * [[Intervals.sweep]] then keeps what sleep covers and no step window
    * does. Intended mode needs no merge pass: the sweep's coverage already
    * unions overlapping and touching counter intervals. Faithful mode first
    * folds the counter intervals with the reference's order-dependent merge
    * ([[CompatMode.mergeIntervals]]). Returns (partitionCols...,
    * start_time, end_time), disjoint. */
  def sleepIntervals(measurements: DataFrame,
                     partitionCols: Seq[String] = Nil,
                     mode: CompatMode = CompatMode.Intended): DataFrame = {
    val part = partitionCols.map(col)
    val byKind = partitionCols :+ "kind"
    val isSleep = col("kind") === "sleep_total"
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(byKind.map(col): _*).orderBy(col("date_time"))
    val prev = lag(col("data"), 1).over(ord)
    // the counter is null on step rows, so their counter interval is too
    val counted = Windows.counterIntervals(
      measurements.filter(col("kind").isin("sleep_total", "step"))
        .withColumn("_prev", prev)
        .filter(!isSleep || col("_prev").isNull || col("data") =!= col("_prev"))
        .withColumn("_counter", when(isSleep, col("data"))),
      "date_time", "_counter", byKind)
    val ivs = counted
      .filter(isSleep || col("data") > 0)
      .select(part ++ Seq(
        when(isSleep, col("start_time")).otherwise(col("date_time") -
          TimeOps.minutesInterval(lit(10))).as("start_time"),
        col("date_time").as("end_time"), isSleep.as("_sleep")): _*)
    val tagged = mode match {
      case CompatMode.Intended => ivs
      // the reference's row order is the counter rows' time order, i.e.
      // each interval's end timestamp (OpsSpec shows the modes agree
      // whenever that order is already sorted by start)
      case CompatMode.Faithful =>
        CompatMode.mergeIntervals(ivs.filter(col("_sleep")).drop("_sleep"),
            partitionCols, mode, seqCol = Some(unix_micros(col("end_time"))))
          .withColumn("_sleep", lit(true))
          .unionByName(ivs.filter(!col("_sleep")))
    }
    val sleep = col("_sleep")
    Intervals.sweep(tagged, partitionCols, Seq(sleep, !sleep),
      { case Seq(s, st) => when(s > 0 && st === 0, lit(true)) })
      .drop("label")
  }

  /** E3 stage 3 — the timeline algebra over net sleep and a categorized
    * acc window table (activity_categorize.py:312-330): active windows win
    * over sleep; wake-rest is rest windows minus final sleep. The
    * categorized input may come from [[categorizeFull]] or from a stored
    * `*_acc_category.csv` (the reference's `--acc_cat` shortcut).
    *
    * One 3-counter sweep over (sleep, active, rest) labels a segment
    * `sleep` where sleep covers it and no active window does, else `rest`
    * where a rest window covers it: the reference's final sleep
    * (sleep \ active) and wake rest (rest \ final sleep). The active
    * windows pass through unchanged. The rows come in no particular
    * order: sort them where order matters (`graft.Run` sorts its CSVs). */
  def timelineFromCategorized(sleep: DataFrame, cat: DataFrame,
                              partitionCols: Seq[String] = Nil): DataFrame = {
    val part = partitionCols.map(col)
    val cols = part ++ Seq(col("start_time"), col("end_time"), col("category"))
    val active = col("category") =!= "rest"
    val rest = col("category") === "rest"
    val isSleep = col("_sleep")
    val tagged = sleep
      .select(part ++ Seq(col("start_time"), col("end_time"),
        lit(null).cast("string").as("category"), lit(true).as("_sleep")): _*)
      .union(cat.select(cols :+ lit(false).as("_sleep"): _*))
    val labelled = Intervals.sweep(tagged, partitionCols,
      Seq(isSleep, !isSleep && active, !isSleep && rest),
      { case Seq(s, a, r) =>
        when(s > 0 && a === 0, "sleep").when(r > 0, "rest") })
      .withColumnRenamed("label", "category")
    labelled.union(cat.filter(active).select(cols: _*))
  }

  /** E3 — activity_categorize.py (/root/reference/activity_categorize.py:209-343):
    * the outputs of [[categorizeFull]]:
    *  - `band`: the resting band per `partitionCols` key,
    *    (partitionCols..., lo, hi) ([[Acc.restingBand]]);
    *  - `categorizedAcc`: merged 5-minute acc categories,
    *    (partitionCols..., category, start_time, end_time);
    *  - `timeline`: the sleep / rest / low active / high active timeline
    *    ([[timelineFromCategorized]]), in no particular order.
    *
    * Net sleep and the categories are persisted (lazily: the first action
    * stores them), so every output reads them once. [[unpersist]] releases
    * them; so does the garbage collector, once none of the three outputs
    * is referenced any more. */
  case class CategorizeOut(band: DataFrame, categorizedAcc: DataFrame,
                           timeline: DataFrame)(release: Runnable) {
    /** Releases the persisted net sleep and categories. The outputs stay
      * usable; they recompute their inputs afterwards. */
    def unpersist(): Unit = release.run()
  }

  private lazy val releaser = java.lang.ref.Cleaner.create()

  /** Unpersists `shared`, in order, at most once: when the returned action
    * runs, or when the garbage collector finds every one of `outputs`
    * unreferenced. A cache entry's plans outlive its few rows of data by
    * megabytes, so a caller that never unpersists would otherwise keep
    * them for the life of the session. `shared` must not hold an output:
    * the collector would then never find it unreferenced. */
  private def releaseOnce(shared: Seq[DataFrame],
                          outputs: Seq[DataFrame]): Runnable = {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val left = new java.util.concurrent.atomic.AtomicInteger(outputs.size)
    val release: Runnable = () =>
      if (done.compareAndSet(false, true)) shared.foreach(_.unpersist())
    outputs.foreach(o => releaser.register(o, () =>
      if (left.decrementAndGet() == 0) release.run()))
    release
  }

  /** E3: net sleep from the cumulative counter minus step activity
    * ([[sleepIntervals]]); a resting band per `partitionCols` key from the
    * acc samples inside that key's net sleep; 5-minute acc categories
    * against the key's own band, merged where adjacent; interval algebra
    * to the final timeline. No job fires here.
    *
    * The band joins the acc samples on `partitionCols` (broadcast, inner):
    * a key with no acc sample inside its net sleep has no band, so its acc
    * windows drop out of `categorizedAcc` and its timeline holds only its
    * net sleep. The shared frames are released by
    * [[CategorizeOut.unpersist]], or once the outputs are unreferenced. */
  def categorizeFull(measurements: DataFrame, accWide: DataFrame,
                     partitionCols: Seq[String] = Nil,
                     mode: CompatMode = CompatMode.Intended): CategorizeOut = {
    val part = partitionCols.map(col)
    val sleep = sleepIntervals(measurements, partitionCols, mode).persist()
    val band = Acc.restingBand(accWide, sleep, partitionCols)
    val cat = Windows.mergeAdjacentWindows(
      Acc.binCategorize(accWide.join(broadcast(band), partitionCols),
          col("lo"), col("hi"), partitionCols)
        .select((part :+ col("start_time") :+ col("end_time") :+
          col("category")): _*),
      partitionCols).persist()
    // a frame apart from the persisted one, which the release holds
    val categorizedAcc = cat.toDF()
    val timeline = timelineFromCategorized(sleep, cat, partitionCols)
    // categories first: they are cached on top of net sleep, and uncaching
    // sleep first would rebuild the categories' cache entry
    CategorizeOut(band, categorizedAcc, timeline)(
      releaseOnce(Seq(cat, sleep), Seq(band, categorizedAcc, timeline)))
  }

  /** Shape charset-DECODED WARC records ([[graft.io.Warc
    * .recordsDecoded]] output) into the documents contract — shared by
    * the batch [[ingestWarc]] (`decodeCharset = true`) and the
    * streaming [[graft.streaming.Streaming.warcDocStream]]; pure
    * map-only column work, so it is streaming-legal as-is. */
  private[graft] def shapeDecodedWarc(recs0: DataFrame,
      types: Seq[String], extractHtml: Boolean, okStatusOnly: Boolean,
      contentTypes: Option[Seq[String]]): DataFrame = {
    import graft.text.TextOps
    val typed = recs0.filter(col("warc_type").isin(types: _*))
    val recs1 =
      if (!okStatusOnly) typed
      else typed.filter(col("http_status").isNull ||
        col("http_status").between(200, 299))
    val recs = contentTypes match {
      case None => recs1
      case Some(cts) => recs1.filter(col("http_content_type").isNull ||
        col("http_content_type").isin(cts.map(_.toLowerCase): _*))
    }
    val text = if (extractHtml) TextOps.htmlExtract(col("text"))
      else col("text")
    recs.select(
      xxhash64(col("record_id")).as("doc_id"),
      text.as("text"),
      regexp_extract(col("target_uri"), "https?://([^/]+)", 1)
        .as("source"),
      col("decode_ok"))
      .withColumn("lang", TextOps.langIdEn(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars",
        "decode_ok")
  }

  /** WARC → documents-shaped ingest: crawl records become (doc_id, text,
    * lang, source, n_chars) rows ready for [[curate]]. `conversion`
    * records (Common Crawl's pre-extracted text) pass through bare;
    * `response` records get the HTTP envelope stripped. doc_id is the
    * xxhash64 of the WARC record id (stable across re-reads), source is
    * the target host, lang the engine's heuristic — all map-only. */
  def ingestWarc(spark: SparkSession, path: String,
                 types: Seq[String] = Seq("conversion", "response"),
                 extractHtml: Boolean = false,
                 okStatusOnly: Boolean = false,
                 contentTypes: Option[Seq[String]] = None,
                 decodeCharset: Boolean = false,
                 planUrls: Option[DataFrame] = None): DataFrame = {
    import graft.text.TextOps
    // planUrls: restrict ingest to a fetch plan's URLs (a `url` column
    // — [[frontierFetchPlan]]'s output or any allow-list): the local
    // replay of the range-request fetcher, which reads ONLY planned
    // records. Plans are list-sized, so the gate is one broadcast
    // semi-join on the target URI — applied before any payload work.
    def planGate(df: DataFrame): DataFrame = planUrls match {
      case None => df
      case Some(p) => df.join(
        broadcast(p.select(col("url").as("target_uri")).distinct()),
        Seq("target_uri"), "left_semi")
    }
    // decodeCharset: route through the binary charset-aware scan
    // (Warc.recordsDecoded) — non-UTF-8 bodies (ISO-8859-x, Shift_JIS,
    // GBK ...) are decoded by their DECLARED charset instead of
    // arriving pre-mojibaked through the UTF-8 text source; the output
    // gains a `decode_ok` flag (0 = fell back to U+FFFD replacement)
    // for the damage gate to consume.
    if (decodeCharset) {
      return shapeDecodedWarc(
        planGate(graft.io.Warc.recordsDecoded(spark, path)),
        types, extractHtml, okStatusOnly, contentTypes)
    }
    val recs0 = planGate(graft.io.Warc.records(spark, path))
      .filter(col("warc_type").isin(types: _*))
    // okStatusOnly: drop response records whose envelope is not a 2xx —
    // 404 bodies and redirect stubs poison a text corpus; records
    // without an HTTP envelope (conversion text) pass through.
    // contentTypes: keep only the listed envelope media types (e.g.
    // Seq("text/html")) — the pdf/image router before any decode.
    // Both are residual map-side predicates in the same scan.
    val recs1 =
      if (!okStatusOnly) recs0
      else recs0.filter(graft.io.Warc.httpStatus(col("content")).isNull ||
        graft.io.Warc.httpStatus(col("content")).between(200, 299))
    val recs = contentTypes match {
      case None => recs1
      case Some(cts) =>
        val ct = graft.io.Warc.httpContentType(col("content"))
        recs1.filter(ct.isNull || ct.isin(cts.map(_.toLowerCase): _*))
    }
    // extractHtml: run the markup→prose chain (TextOps.htmlExtract) on
    // the payload — the right setting for raw `response` records, whose
    // payload is HTML; `conversion` records are already extracted text,
    // hence opt-in. Still map-only: the chain is column expressions.
    val payload = graft.io.Warc.httpPayload(col("content"))
    val text = if (extractHtml) TextOps.htmlExtract(payload) else payload
    recs.select(
      xxhash64(col("record_id")).as("doc_id"),
      text.as("text"),
      regexp_extract(col("target_uri"), "https?://([^/]+)", 1).as("source"))
      .withColumn("lang", TextOps.langIdEn(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** WET fast path of [[ingestWarc]]: when the crawl ships its
    * extracted-text sidecars, ingest THOSE — no HTTP envelope strip, no
    * HTML extraction, just the header parse and the documents-shaped
    * projection. At 100 TB this skips the whole markup chain (the most
    * expensive per-row work of the response path) and reads the smaller
    * archives. */
  def ingestWet(spark: SparkSession, path: String): DataFrame = {
    import graft.text.TextOps
    graft.io.Warc.wetRecords(spark, path)
      .select(
        xxhash64(col("record_id")).as("doc_id"),
        col("text"),
        regexp_extract(col("target_uri"), "https?://([^/]+)", 1)
          .as("source"))
      .withColumn("lang", TextOps.langIdEn(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** E4 (engine extension — no reference analogue): the standard
    * LLM-training-data curation sweep over a document corpus, composed
    * from the dedup/text operators:
    *
    *  1. gate       — non-null text, quality ≥ `minQuality`, language "en"
    *                  (map-only column expressions); optionally a
    *                  byte-level repetition floor: drop docs whose
    *                  deflate ratio falls below `minCompressionRatio`
    *                  (looping spam compresses to almost nothing while
    *                  passing character-class quality); with
    *                  `blockWords` drop docs whose unsafe-word fraction
    *                  exceeds `maxBlocklistFraction` (q149's gate); with
    *                  `allowLicenses` keep only docs whose detected
    *                  license class is allowed (q150's tagger); with
    *                  `dropDamaged` drop docs carrying U+FFFD
    *                  replacement chars or stray C0 controls (q157's
    *                  encoding-damage gate — runs first among the
    *                  optional predicates since transcoding damage
    *                  poisons every downstream text rule)
    *  2. exact      — one survivor per normalized fingerprint
    *  3. near-dup   — [[graft.dedup.Dedup.nearDupClusters]] (LSH
    *                  candidates → exact verify → components), keep each
    *                  component's representative; with `maxPerDomain`
    *                  then a FineWeb-style per-registrable-domain cap
    *                  over `urlCol` ([[graft.text.UrlOps.capPerDomain]]);
    *                  with `tokenBudget` then best-quality-first
    *                  selection until the budget fills
    *                  ([[graft.text.TextOps.selectUnderTokenBudget]])
    *  4. split      — deterministic md5 train/val/test
    *  5. decontam   — drop training docs sharing any word
    *                  `decontamN`-gram with the held-out test split;
    *                  with `fuzzyDecontaminate` ALSO drop training docs
    *                  that are MinHash near-dups (exact-verified Jaccard
    *                  ≥ `fuzzyMinJaccard`) of any test doc — the
    *                  paraphrase-tolerant pass exact n-grams miss. When
    *                  `fuzzyNumHashes`/`fuzzyBands` equal the near-dup
    *                  banding (64/16, the defaults) this pass signs,
    *                  bands and verifies nothing: it reads the near-dup
    *                  stage's scored pairs, whose train ∪ test subset is
    *                  exactly what [[graft.dedup.Dedup.decontaminateFuzzy]]
    *                  would find; any other banding calls that operator
    *
    * Returns the curated corpus with the `split` column. Every stage's
    * shuffle posture is the operator's own (see SURVEY.md §9); the gate
    * runs first so all downstream shuffles move only surviving docs.
    *
    * Three lazy local checkpoints bound the recomputation. The gated docs
    * are stored once on disk, after the last map-only gate, so the input
    * is scanned and gated once however many stages read it; on the
    * default path building them fires no job. The near-dup stage's scored
    * pairs (exact Jaccard ≥ `minJaccard`, or ≥ `fuzzyMinJaccard` when
    * that is lower and the fuzzy pass shares them) are stored once:
    * building them runs the banding and verify shuffles, the components
    * read the pairs at or above `minJaccard` and the fuzzy pass the pairs
    * at or above `fuzzyMinJaccard`. The split frame is stored too,
    * because its three consumers (train, test and the non-train rows)
    * would otherwise each run both dedups again; building it runs the
    * dedup shuffles. Inside the near-dup stage the candidate pairs are
    * persisted until the components are found and released before this
    * returns; the checkpoints' blocks go once the result is
    * unreferenced. */
  def curate(docs0: DataFrame, minQuality: Double = 0.3,
             minJaccard: Double = 0.8, decontamN: Int = 8,
             adaptivePct: Option[Double] = None,
             priorCorpus: Option[DataFrame] = None,
             minCompressionRatio: Option[Double] = None,
             fuzzyDecontaminate: Boolean = false,
             fuzzyMinJaccard: Double = 0.5,
             fuzzyNumHashes: Int = 64,
             fuzzyBands: Int = 16,
             maxPerDomain: Option[Int] = None,
             urlCol: String = "url",
             domainSuffixes: Option[Seq[String]] = None,
             fuzzyPrior: Boolean = false,
             tokenBudget: Option[Long] = None,
             blockWords: Option[Seq[String]] = None,
             maxBlocklistFraction: Double = 0.0,
             allowLicenses: Option[Seq[String]] = None,
             dropDamaged: Boolean = false,
             c4Lines: Boolean = false,
             scriptAware: Boolean = false,
             dedupParagraphs: Boolean = false,
             langModel: Option[DataFrame] = None,
             lang: String = "en",
             langRouter: Boolean = false,
             unicodeNfc: Boolean = false,
             urlBlockKeywords: Option[Seq[String]] = None,
             fixEncoding: Boolean = false,
             canonicalCollapse: Boolean = false,
             htmlCol: String = "html",
             semDedupEmbs: Option[DataFrame] = None,
             semDedupMinCosine: Double = 0.95,
             semDedupWhiten: Boolean = false,
             semDedupPcaK: Int = 16,
             semDedupDim: Int = graft.ml.Similarity.DefaultDim,
             semDeconEvalEmbs: Option[DataFrame] = None,
             semDeconEmbs: Option[DataFrame] = None,
             semDeconMinCosine: Double = 0.95,
             semDeconMultiProbe: Boolean = false,
             pplRef: Option[DataFrame] = None,
             pplMaxNll: Double = 12.0): DataFrame = {
    import graft.text.TextOps
    import graft.dedup.Dedup
    // a rewrite stage (c4 lines / paragraph dedup) that changed `text`
    // must also refresh any carried ingest-time n_chars, or the curated
    // output ships a length inconsistent with its own text
    def refreshNChars(df: DataFrame): DataFrame =
      if (df.columns.contains("n_chars"))
        df.withColumn("n_chars", length(col("text")).cast("long"))
      else df
    // opt-in Unicode canonicalization BEFORE any digest or gate:
    // composed and combining-mark spellings of the same text must meet
    // the exact-dedup hash as ONE byte sequence (quick-check fast path
    // makes the all-ASCII common case one scan, zero alloc)
    // optional URL keyword blocklist (one Aho-Corasick pass) — the
    // cheapest gate runs FIRST, before any text work (NFC included) is
    // spent on a page whose URL already disqualifies it
    val urlGated = urlBlockKeywords match {
      case Some(kws) if kws.nonEmpty =>
        graft.text.UrlOps.urlKeywordGate(docs0,
          graft.text.UrlOps.keywordAutomatonBroadcast(
            docs0.sparkSession, kws), urlCol)
      case _ => docs0
    }
    // opt-in canonical-URL collapse (q215's operator) — the mirror
    // dedup that runs BEFORE any content work: pages declaring one
    // rel=canonical target (tracking-param variants, www/non-www
    // mirrors, print views) collapse to the min-id representative off
    // the head regex alone, so the exact/near-dup digests downstream
    // never hash a mirror's body. Needs the page URL and raw html
    // head; one window on the normalized canonical key (the q215
    // skew story). Mirrors that DON'T declare a canonical still
    // collapse at the content-hash stage — this stage just makes the
    // declared ones free
    val canonGated = if (!canonicalCollapse) urlGated else {
      val missing = Seq(urlCol, htmlCol)
        .filterNot(urlGated.columns.contains)
      require(missing.isEmpty,
        s"canonicalCollapse needs column(s) ${missing.mkString(", ")} " +
          "— pass urlCol/htmlCol naming the page URL and raw html")
      graft.text.UrlOps.canonicalDedup(urlGated, urlCol, htmlCol,
          "doc_id")
        .filter(col("keep") === 1).drop("canonical", "keep")
    }
    // opt-in mojibake REPAIR before NFC (repair the bytes, then
    // canonicalize): UTF-8-as-cp1252 damage heals instead of being
    // gated; the strict re-decode inside the kernel keeps genuine
    // Latin-1 / non-Latin text untouched, so the stage is safe to
    // leave on. Map-only, same scan
    val repaired = if (!fixEncoding) canonGated
      else refreshNChars(canonGated.withColumn("text",
        TextOps.fixMojibake(col("text"))))
    val docs = if (!unicodeNfc) repaired
      else refreshNChars(repaired.withColumn("text",
        TextOps.nfcNormalize(col("text"))))
    // incremental-ingest mode: drop docs already in the prior corpus
    // (digest anti-join) before spending any curation work on them;
    // fuzzyPrior ALSO drops near-dups of prior docs (a re-crawl with one
    // word changed survives the digest) — shares the fuzzy* knobs with
    // the decontamination pass, and runs after the exact gate so the
    // banding only pays for genuinely fresh text
    val freshExact = priorCorpus
      .map(c => Dedup.incrementalNew(docs, c)).getOrElse(docs)
    val fresh = priorCorpus match {
      case Some(c) if fuzzyPrior =>
        Dedup.incrementalNewFuzzy(freshExact, c,
          minJaccard = fuzzyMinJaccard, numHashes = fuzzyNumHashes,
          bands = fuzzyBands)
      case _ => freshExact
    }
    // optional C4 line-level cleanup (q168's operator) BEFORE any
    // doc-level scoring — C4's own order: quality must judge the
    // cleaned text, not the nav-bar noise the cleanup removes. One
    // map-only projection drops lorem-ipsum/brace docs and zero-keep
    // docs; the rewritten `text` goes last (curate's output column
    // order) and, like c4LineFilter's `cleaned`, is non-nullable
    val freshClean =
      if (!c4Lines) fresh
      else {
        val t = col("text")
        val kept = TextOps.c4KeptLines(coalesce(t, lit("")),
          scriptAware = scriptAware)
        val others = fresh.columns.filterNot(Set("doc_id", "text"))
        refreshNChars(fresh.filter(t.isNotNull && !TextOps.c4DropsDoc(t))
          .select(col("doc_id") +: others.map(col) :+
            array_join(kept, "\n").as("text"): _*)
          .filter(length(t) > 0))
      }
    // language gate: the heuristic langIdEn by default; with
    // `langRouter` the MULTILINGUAL profile router decides (r14 —
    // langIdMulti's argmax must equal `lang`, so curate(lang = "de")
    // now means something: per-language curation over a routed
    // corpus, still one map-only kernel predicate); with a trained NB
    // model (naiveBayesTrain's output frame) the q156→nbClassify
    // router decides instead — argmax label must equal `lang`. The
    // model path costs a token join + (doc, K) aggregation vs the
    // map-only predicates; all three keep the same shape against the
    // scan
    val nonNull = freshClean.filter(col("text").isNotNull)
    val langGated = langModel match {
      case Some(m) =>
        val keep = TextOps.nbClassify(nonNull, m)
          .filter(col("pred") === 1 && col("label") === lang)
          .select(col("doc_id"))
        nonNull.join(keep, Seq("doc_id"), "left_semi")
      case None if langRouter =>
        nonNull.filter(
          TextOps.langIdMulti(col("text")).getField("lang") === lang)
      case None =>
        nonNull.filter(TextOps.langIdEn(col("text")) === lang)
    }
    val gatedBase0 = langGated
      .filter(TextOps.qualityScore(col("text")) >= minQuality)
    // optional encoding-damage gate (q157's operator): drop docs whose
    // text carries U+FFFD replacement chars or C0 controls outside
    // tab/LF/CR — transcoding damage poisons every downstream text
    // rule, so it runs FIRST among the optional gates; same map-only
    // scan, one more predicate (inlined columns of mojibakeStats)
    val gatedBase =
      if (!dropDamaged) gatedBase0
      else {
        val t = col("text")
        def stripped(p: String) =
          length(t) - length(regexp_replace(t, p, ""))
        gatedBase0.filter(stripped("\uFFFD") === 0 &&
          stripped("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]") === 0)
      }
    // optional byte-level repetition floor: looping/templated spam can
    // carry a healthy character-class mix (so qualityScore passes) yet
    // deflate to almost nothing — LOW ratio = compressible = spam, so
    // the gate keeps docs at or ABOVE the floor. Same map-only scan,
    // one more predicate
    val gatedFixed = minCompressionRatio
      .map(m => gatedBase.filter(
        TextOps.compressionRatio(col("text")) >= lit(m)))
      .getOrElse(gatedBase)
    // optional unsafe-word gate (q149's operator): same map-only scan,
    // one more predicate — drop docs whose blocklist-token fraction
    // exceeds the tolerance (0.0 = any hit drops)
    val gatedSafe = blockWords
      .map(ws => gatedFixed.filter(
        TextOps.blocklistFraction(col("text"), ws)
          <= lit(maxBlocklistFraction)))
      .getOrElse(gatedFixed)
    // optional license allow-list (q150's operator): keep only docs
    // whose detected license class is in the allowed set — the
    // The-Stack-style compliance gate, still map-only
    val gatedLicensed = allowLicenses
      .map(ls => gatedSafe.filter(
        TextOps.detectLicense(col("text")).isin(ls: _*)))
      .getOrElse(gatedSafe)
    // the gated docs, stored once as a lazy disk-only local checkpoint
    // (the E1 pattern): exact dedup, near-dup clustering and the split all
    // read them, and without it each of them scanned and gated the input
    // again. On the default path only the scan and map-only filters sit
    // below it, so building it fires no job; an option above that adds an
    // exchange (priorCorpus, langModel, canonicalCollapse) runs
    // that exchange while the frame is built. The blocks go when the
    // output is unreferenced
    val gatedOnce = gatedLicensed
      .localCheckpoint(eager = false, StorageLevel.DISK_ONLY)
    // optional per-source adaptive bar on top of the absolute floor
    val gated = adaptivePct
      .map(p => TextOps.adaptiveQualityGate(gatedOnce, pct = p)
        .drop("quality", "thr"))
      .getOrElse(gatedOnce)
    // optional CCNet-style paragraph dedup (q169's operator), BEFORE
    // the doc-level dedups: removing shared boilerplate paragraphs
    // first lets two pages that differ only by their nav bars collapse
    // to exact duplicates below. Docs whose every paragraph is owned
    // elsewhere are dropped (boilerplate shells)
    val paraClean =
      if (!dedupParagraphs) gated
      else refreshNChars(gated.drop("text").join(
        Dedup.paragraphDedup(gated).filter(col("kept_paras") > 0)
          .select(col("doc_id"), col("text_dedup").as("text")),
        Seq("doc_id")))
    val exactKeep = Dedup.normalized(paraClean)
      .select(col("keep_id").as("doc_id"))
    val exact = paraClean.join(exactKeep, Seq("doc_id"), "left_semi")
    // the fuzzy decontamination reads the near-dup pass's scored pairs
    // when it bands like that pass; text is not rewritten after this
    // stage, so a pair's exact Jaccard is the one the near-dup pass scored
    val (nearDupHashes, nearDupBands) = (64, 16)
    val sharedFuzzy = fuzzyDecontaminate &&
      fuzzyNumHashes == nearDupHashes && fuzzyBands == nearDupBands
    val (clusters, scoredPairs) = Dedup.nearDupClustersAndPairs(exact,
      "doc_id", "text", shingleN = 3, minJaccard = minJaccard,
      pairMinJaccard =
        if (sharedFuzzy) math.min(minJaccard, fuzzyMinJaccard)
        else minJaccard,
      numHashes = nearDupHashes, bands = nearDupBands, portable = false)
    val reps = clusters
      .filter(col("doc_id") === col("cluster_id")).select("doc_id")
    val textDeduped = exact.join(reps, Seq("doc_id"), "left_semi")
    // optional SemDeDup pass (q59's operator) AFTER the text dedups —
    // embedding-space near-dups (paraphrases, translations-of-
    // boilerplate, templated rewrites) that share too few shingles for
    // MinHash. `semDedupWhiten` first fits PCA on the survivor
    // embeddings and projects with whitening (identity covariance on
    // the informative axes — the bb5a53d contract: k < dim so the
    // eps-dominated axes never amplify noise), which equalizes cosine
    // geometry under anisotropic encoders; blocking is hyperplane-LSH
    // in whichever space the comparison runs. Corpus text never
    // enters: only (doc_id, vector) rows move, and only survivors'
    val deduped0 = semDedupEmbs match {
      case None => textDeduped
      case Some(embs0) =>
        val missing = Seq("doc_id", "embedding")
          .filterNot(embs0.columns.contains)
        require(missing.isEmpty,
          s"semDedupEmbs needs column(s) ${missing.mkString(", ")}")
        val spark = embs0.sparkSession
        val embs = embs0.select(col("doc_id"), col("embedding"))
          .join(textDeduped.select("doc_id"), Seq("doc_id"), "left_semi")
        val (vecs, cmpDim) =
          if (!semDedupWhiten) (embs, semDedupDim)
          else {
            val model = graft.ml.Pca.fitPca(embs, semDedupPcaK,
              semDedupDim)
            (graft.ml.Pca.pcaProject(spark, embs, model, whiten = true)
              .select(col("doc_id"), col("pca").as("embedding")),
              semDedupPcaK)
          }
        val keep = Dedup.semDeDupBlocked(vecs, None, "doc_id",
            "embedding", semDedupMinCosine, cmpDim)
          .filter(col("keep")).select("doc_id")
        // docs WITHOUT an embedding row pass through (no evidence =
        // no drop) — hence the anti-join complement, not a semi-join
        val dropped = embs.select("doc_id")
          .join(keep, Seq("doc_id"), "left_anti")
        textDeduped.join(dropped, Seq("doc_id"), "left_anti")
    }
    // optional SEMANTIC DECONTAMINATION — the embedding-space eval
    // gate ([[graft.dedup.Dedup.semanticDecontaminate]]), after dedup
    // (cheaper on distinct content), before the domain cap and split:
    // survivors whose embedding sits within semDeconMinCosine of ANY
    // eval embedding drop. Doc vectors come from semDeconEmbs, falling
    // back to the semDedupEmbs frame (one embedding table usually
    // serves both); docs without an embedding row pass (no evidence =
    // no drop, the semDedup convention)
    val deconed0 = semDeconEvalEmbs match {
      case None => deduped0
      case Some(evalEmbs) =>
        val docEmbs = semDeconEmbs.orElse(semDedupEmbs).getOrElse(
          throw new IllegalArgumentException(
            "semantic decontamination needs doc vectors — pass " +
              "semDeconEmbs (or reuse semDedupEmbs)"))
        val embs = docEmbs.select(col("doc_id"), col("embedding"))
          .join(deduped0.select("doc_id"), Seq("doc_id"), "left_semi")
        val kept = Dedup.semanticDecontaminate(embs, evalEmbs,
          "doc_id", "embedding", semDeconMinCosine, dim = semDedupDim,
          multiProbe = semDeconMultiProbe)
        val dropped = embs.select("doc_id")
          .join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
        deduped0.join(dropped, Seq("doc_id"), "left_anti")
    }
    // optional REFERENCE-LM PERPLEXITY GATE (the CCNet filter,
    // [[graft.text.TextOps.bigramNllRef]]): mean bigram NLL under an
    // add-one model trained on the trusted pplRef corpus; survivors
    // above pplMaxNll drop; docs with no bigram evidence pass
    val ppled = pplRef match {
      case None => deconed0
      case Some(ref) =>
        val lm = TextOps.bigramLmTrain(ref)
        val tooHigh = TextOps.bigramNllRef(deconed0, lm)
          .filter(col("nll") > pplMaxNll).select("doc_id")
        deconed0.join(tooHigh, Seq("doc_id"), "left_anti")
    }
    // optional FineWeb-style per-domain cap, AFTER dedup (so the cap
    // counts distinct content, not duplicates) and BEFORE the split (so
    // train/val/test remain deterministic subsets of the capped corpus)
    // domainSuffixes switches the cap's grouping key to PSL-exact rules
    // (e.g. UrlOps.PslSuffixes) — under the default heuristic every
    // *.github.io user site is ONE domain; under the PSL each is its own
    val deduped = maxPerDomain
      .map(k => graft.text.UrlOps.capPerDomain(ppled, urlCol, k,
        suffixes = domainSuffixes))
      .getOrElse(ppled)
    // optional token budget (q120's bin-offset selection, no global
    // sort): keep the best-quality docs until the budget fills — runs
    // LAST among the keep/drop gates so the budget buys only deduped,
    // capped, genuinely fresh content
    val budgeted = tokenBudget.map { b =>
      val keep = TextOps.selectUnderTokenBudget(deduped, b)
        .select(col("doc_id"))
      deduped.join(keep, Seq("doc_id"), "left_semi")
    }.getOrElse(deduped)
    // three consumers below (train branch, test branch, non-train union);
    // without this second checkpoint both dedup subtrees execute 3x per
    // action (the gated checkpoint only saves their scan). Building it runs
    // the dedup shuffles; without it a traced curate_corpus benchmark unit
    // (seed 11, 4 vCPU) fired 54 jobs instead of 38 and took 7.6 s instead
    // of 5.5. localCheckpoint (lazy) rather than cache: blocks are
    // reclaimed by the ContextCleaner once the frame is unreferenced, so
    // repeated curate calls in a long-running job don't accumulate
    // unreleasable storage memory
    val split = budgeted.withColumn("split",
      TextOps.hashSplit(col("doc_id"))).localCheckpoint(false)
    val testSplit = split.filter(col("split") === "test")
    val cleanExact = TextOps.decontaminate(
      split.filter(col("split") === "train"), testSplit, n = decontamN)
    // optional paraphrase-tolerant second pass over the SAME held-out
    // corpus: exact n-gram containment misses light rewrites (a leak
    // with every 8th word changed shares no 8-gram), MinHash near-dup
    // verification catches them (q142's operator). Both ends of a
    // train–test pair survived the near-dup stage, and their bucket
    // membership depends only on their own signatures, so the pairs
    // decontaminateFuzzy would find over train ∪ test are the stored
    // pairs with one end in each: drop every exact-cleaned train doc
    // with a stored pair at or above fuzzyMinJaccard to a test doc
    val cleanTrain =
      if (!fuzzyDecontaminate) cleanExact
      else if (sharedFuzzy) {
        val leaked = scoredPairs
          .filter(col("jaccard") >= fuzzyMinJaccard)
          .select(inline(array(
            struct(col("id_a").as("doc_id"), col("id_b").as("peer")),
            struct(col("id_b").as("doc_id"), col("id_a").as("peer")))))
          .join(testSplit.select(col("doc_id").as("peer")), Seq("peer"),
            "left_semi")
        cleanExact.join(leaked, Seq("doc_id"), "left_anti")
      } else
        Dedup.decontaminateFuzzy(cleanExact, testSplit,
          minJaccard = fuzzyMinJaccard, numHashes = fuzzyNumHashes,
          bands = fuzzyBands)
    cleanTrain.unionByName(split.filter(col("split") =!= "train"))
  }

  /** E6 (engine extension): content-REWRITE cleanup — the two chunk-level
    * rewrite passes [[curate]]'s doc-level keep/drop gates don't perform.
    * First intra-document repeated-chunk removal
    * ([[graft.dedup.Dedup.dedupChunksWithinDoc]], map-only), then
    * cross-document substring dedup on the already-self-deduped text
    * ([[graft.dedup.Dedup.substringDedup]], broadcast rewrite) — the C4
    * order: self-repetition must go first or a doc repeating a shared
    * template N times would survive cross-doc dedup as the "owner" of its
    * own spam. Docs whose doubly-cleaned text keeps less than
    * `minKeptFrac` of their original chunks are boilerplate shells and
    * are dropped. Returns (doc_id, text, orig_chunks, kept_chunks) with
    * `text` rewritten. Components oracle-gated by q117/q114; this
    * composition is the wiring. */
  def rewriteClean(docs: DataFrame, chunkLen: Int = 32,
                   minKeptFrac: Double = 0.2,
                   cdc: Boolean = false): DataFrame = {
    import graft.dedup.Dedup
    // three consumers (substringDedup's eager pass-1 collect, its rewrite
    // scan, and the orig_chunks join): without persisting, the quadratic
    // intra-doc projection re-executes for each. Lazy localCheckpoint for
    // the same reclaim-on-unreference reason as [[curate]]
    val intra = Dedup.dedupChunksWithinDoc(docs, chunkLen = chunkLen)
      .select(col("doc_id"), col("clean_text").as("text"),
        col("n_chunks").as("orig_chunks"))
      .localCheckpoint(false)
    if (!cdc) {
      val cross = Dedup.substringDedup(intra, chunkLen = chunkLen)
      cross.join(intra.select("doc_id", "orig_chunks"), Seq("doc_id"))
        .filter(col("kept_chunks") >=
          col("orig_chunks").cast("double") * minKeptFrac)
        .select(col("doc_id"), col("clean_text").as("text"),
          col("orig_chunks"), col("kept_chunks"))
    } else {
      // cdc: content-defined boundaries for the cross-doc pass — catches
      // duplicated passages at ARBITRARY offsets the fixed stride misses
      // entirely (PropertySpec quantifies). The survival floor compares
      // against the CDC pass's OWN chunk count: CDC chunks average ~16
      // chars vs the 32-char stride, so the stride orig_chunks would be
      // the wrong denominator.
      val cross = Dedup.substringDedupCdc(intra)
      cross.filter(col("kept_chunks") >=
          col("n_chunks").cast("double") * minKeptFrac)
        .join(intra.select("doc_id", "orig_chunks"), Seq("doc_id"))
        .select(col("doc_id"), col("clean_text").as("text"),
          col("orig_chunks"), col("kept_chunks"))
    }
  }

  /** Tokenizer-training composition: learn `numMerges` BPE merges from
    * the corpus ([[graft.text.TextOps.bpeTrain]]'s persisted loop) and
    * apply them straight back with `bpeEncode`, returning
    * (id, tokens ARRAY<STRING>) — one per-word subword string per word.
    * The learned table is `numMerges` rows by construction, so the
    * driver-side collect is bounded and the merges ride the encode scan
    * as plan literals (the [[graft.text.TextOps.bpeEncode]] convention).
    * A corpus with no multi-character words learns nothing — the encode
    * then degrades to the 0-merge character segmentation rather than
    * failing. */
  def trainAndEncodeBpe(docs: DataFrame, numMerges: Int = 8,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    import graft.text.TextOps
    val merges = TextOps.bpeTrain(docs, numMerges, textCol)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val tokens =
      if (merges.nonEmpty) TextOps.bpeEncode(col(textCol), merges)
      else transform(
        filter(TextOps.wsTokens(lower(coalesce(col(textCol), lit("")))),
          t => length(t) > 0),
        w => rtrim(regexp_replace(w, "(.)", "$1 ")))
    docs.select(col(idCol), tokens.as("tokens"))
  }

  /** E5: release-audit bundle for a (curated) corpus — the reports a
    * dataset release ships alongside the parquet: per-source dataset
    * card, split-leakage pairs (should be sparse after [[curate]]),
    * per-doc boilerplate fraction, and the Zipf fit. One call, four
    * frames; each underlying operator is individually oracle-gated
    * (q90/q108/q113/q104), this composition is the wiring. */
  final case class ReleaseAudit(card: DataFrame, leakage: DataFrame,
                                boilerplate: DataFrame, zipf: DataFrame)

  def releaseAudit(docs: DataFrame): ReleaseAudit = {
    import graft.text.TextOps
    import graft.dedup.Dedup
    ReleaseAudit(
      card = TextOps.datasetCard(docs),
      leakage = Dedup.splitLeakage(docs),
      boilerplate = Dedup.duplicatedShingleFraction(docs),
      zipf = TextOps.zipfSlope(docs))
  }

  final case class ChatCuration(sft: DataFrame, masks: DataFrame,
                                pairs: Option[DataFrame])

  /** E8 (engine extension): POST-TRAINING data prep — the SFT/DPO half
    * of the pipeline, composed from the oracle-gated chat operators:
    *
    *  1. structure gates ([[graft.ops.Chat.conversationStats]]): keep
    *     conversations with ≥ `minTurns` turns that strictly alternate
    *     and open with a user turn (both gates optional) — malformed
    *     role sequences poison loss masking downstream;
    *  2. conversation dedup ([[graft.ops.Chat.dedupConversations]]),
    *     keep-first on the normalized rendered digest;
    *  3. `sft` = the kept conversations with their rendered training
    *     strings; `masks` = the per-turn loss-mask manifest
    *     ([[graft.ops.Chat.lossMaskSpans]]) for exactly those rows;
    *  4. optionally, scored candidate `samples` (prompt_id, sample_id,
    *     sample, score) become preference pairs: [[graft.ops.Chat
    *     .bestOfN]] argmax/argmin pairs, then [[graft.ops.Chat
    *     .preferenceAudit]] drops degenerates/contradictions/dups —
    *     only `keep = 1` pairs ship.
    *
    * Scale posture is the sum of its parts (each documented at its
    * operator): map-only projections + digest-keyed reductions; turn
    * payloads shuffle only inside the dedup digest window. */
  def curateChat(convs: DataFrame, idCol: String = "doc_id",
                 turnsCol: String = "turns",
                 requireAlternating: Boolean = true,
                 requireUserStart: Boolean = true,
                 minTurns: Int = 2,
                 samples: Option[DataFrame] = None): ChatCuration = {
    import graft.ops.Chat
    // The structural gates are map-only expressions over the turn array
    // (Chat.conversationStats' own definitions), so they apply as ONE
    // filter projection — the former stats-frame self-join re-derived
    // the conversation scan (and its turn synthesis) on both sides of
    // an id-keyed shuffle to compute what each row already knows.
    // Identical row set: ids are unique by the pipeline contract (one
    // conversation per id), under which join-on-id ≡ filter.
    val t = col(turnsCol)
    val roles = transform(t, x => x.getField("role"))
    val breaks = filter(sequence(lit(1), size(t) - 1),
      i => element_at(roles, i + 1) === element_at(roles, i))
    // Pushdown barrier: when `turns` is itself a computed column (the
    // synthesized-conversation callers), PushPredicateThroughNonJoin
    // substitutes the full turn-construction lambda chain into EVERY
    // gate conjunct below the projection — 6 re-evaluations per row,
    // measured as 1.4 s of q231's 1.9 s (the rule checks only the
    // PROJECT's determinism, never the predicate's cost). So the
    // barrier must live in the projection AND be referenced by the
    // filter (an unreferenced nondeterministic column is pruned away
    // and the barrier dissolves): an always-false `_no_pushdown < 0`
    // OR-leg pins the gate above the projection, turns evaluates once,
    // and monotonically_increasing_id() >= 0 keeps the row set
    // unchanged.
    val gate = (size(t).cast("long") >= minTurns) &&
      (if (requireAlternating) (size(t) > 1 && size(breaks) === 0)
       else lit(true)) &&
      (if (requireUserStart)
        (size(t) > 0 && element_at(roles, 1) === "user") else lit(true))
    val gated = convs
      .withColumn("_no_pushdown", monotonically_increasing_id())
      .filter(gate || col("_no_pushdown") < 0)
      .drop("_no_pushdown")
      .withColumn("n_turns", size(t).cast("long"))
    val kept = Chat.dedupConversations(gated, idCol, turnsCol)
      .filter(col("keep") === 1)
    val sft = kept.select(col(idCol), col("rendered"), col("n_turns"))
    val masks = Chat.lossMaskSpans(
      kept.select(col(idCol), col(turnsCol)), idCol, turnsCol)
    val pairs = samples.map { s =>
      val bon = Chat.bestOfN(s)
      val audited = Chat.preferenceAudit(
        bon.select(col("prompt_id").as("pair_id"),
          col("prompt_id").cast("string").as("prompt"),
          col("chosen"), col("rejected")))
      bon.join(audited.filter(col("keep") === 1)
          .select(col("pair_id").as("prompt_id")), "prompt_id")
    }
    ChatCuration(sft, masks, pairs)
  }

  /** E7 (engine extension): multimodal asset curation — the perceptual
    * dedup sweep over a mixed image/audio/video asset table, one call:
    * image and audio assets collapse to their perceptual keepers
    * ([[graft.multimodal.Multimodal.imageDupGroups]] /
    * `audioDupGroups` — digest-only shuffles), video assets cluster by
    * shared-frame pairs ([[graft.multimodal.Multimodal
    * .videoNearDupByFrame]] → [[graft.dedup.Dedup.connectedComponents]])
    * and each CLUSTER keeps its min-id representative — the same
    * cluster-keeper policy as the text near-dup pipeline, so a chain
    * A–B, B–C keeps A as the cluster's representative rather than
    * pairwise-dropping both B and C. Assets of other modalities pass
    * through untouched. Returns the input rows minus perceptual
    * duplicates; payload columns never shuffle (every fingerprint is
    * computed map-side, decisions join back on ids).
    *
    * `frameMaxDf` is [[graft.multimodal.Multimodal.videoNearDupByFrame]]'s
    * document-frequency cap: frame fingerprints shared by more than that
    * many videos (corpus-wide intro/outro cards) are excluded from the
    * pair join — they are uninformative for matching and the one hot key
    * that would go quadratic at scale.
    *
    * Components oracle-gated by q130/q132/q133/q134; this composition is
    * the wiring, golden-tested in PipelineSpec E7. */
  def curateAssets(assets: DataFrame,
                   minSharedFrames: Int = 1,
                   frameMaxDf: Int = 1000): DataFrame = {
    import graft.multimodal.Multimodal
    import graft.dedup.Dedup
    val imgKeep = Multimodal.imageDupGroups(assets)
      .filter(col("is_keeper")).select(col("id").as("asset_id"))
    val audKeep = Multimodal.audioDupGroups(assets)
      .filter(col("is_keeper")).select(col("id").as("asset_id"))
    // shared-frame pairs → connected components → min-id keeper per
    // cluster: guarantees every cluster's content keeps a representative
    val vids = assets.filter(col("modality") === "video")
      .select(col("asset_id").as("id"))
    val vidPairs = Multimodal.videoNearDupByFrame(assets, minSharedFrames,
      maxDf = frameMaxDf)
    val vidKeep = Dedup.connectedComponents(vids, vidPairs)
      .filter(col("id") === col("cluster_id"))
      .select(col("id").as("asset_id"))
    val keep = imgKeep.unionByName(audKeep).unionByName(vidKeep)
      .unionByName(assets.filter(!col("modality")
        .isin("image", "audio", "video")).select("asset_id"))
    assets.join(keep, Seq("asset_id"), "left_semi")
  }

  /** E9 — CRAWL-TO-TRAINER EXPORT: [[curate]] → greedy context-window
    * packing ([[graft.text.TextOps.packSequencesGreedy]]) → TFRecord
    * shards ([[graft.io.Tfrecord]]), the last hop of the pipeline: what
    * leaves here is what a dataloader streams. Each record carries
    * (doc_id, shard, pack_id, pack_pos, n_tokens, text); rows land
    * sorted (shard, pack_id, pack_pos) within their shard file so a
    * sequential reader sees packs contiguously in training order.
    * Returns the |files|-row manifest. File count = the nShards
    * repartition (shard ids travel IN the records; a hash collision
    * putting two shards in one file changes nothing for the reader).
    * Curation knobs beyond `minQuality` are deliberately not threaded —
    * callers with a tuned curation pass the CURATED frame and set
    * `minQuality = 0` ([[curate]] is idempotent on its own output). */
  /** @param tokenizerPath optional shipped tokenizer file (any format
    *                       [[graft.text.TokenizerFiles.loadTokenizer]]
    *                       reads) — packs then fill by the REAL token
    *                       count instead of the whitespace proxy. */
  def exportTrainingShards(docs: DataFrame, outDir: String,
                           maxTokens: Long = 1024, nShards: Int = 8,
                           minQuality: Double = 0.3,
                           seed: String = "",
                           packer: String = "greedy",
                           tokenizerPath: Option[String] = None)
      : DataFrame = {
    import graft.text.{TextOps, TokenizerFiles}
    val curated = curate(docs, minQuality)
    // real-token budgets under any shipped tokenizer file: column
    // encoders count per row; a Unigram file runs the distinct-word
    // DP once and its per-doc totals join back as a pre-joined count
    // column (the unigramTokenCounts packing contract) — either way
    // the packers fill by what the trainer will actually see
    val (packInput, countWith) = tokenizerPath
      .map(p => TokenizerFiles.loadTokenizer(docs.sparkSession, p))
      .map {
        case ct: TokenizerFiles.ColumnTokenizer =>
          (curated, Some(TokenizerFiles.tokenCounter(ct)))
        case ut: TokenizerFiles.UnigramTokenizer =>
          val budgets = TokenizerFiles.tokenBudgets(ut, curated)
          (curated.join(budgets.select(col("doc_id"),
            col("n_tokens").as("_tok_budget")), Seq("doc_id")),
            Some((_: org.apache.spark.sql.Column) =>
              col("_tok_budget")))
      }.getOrElse((curated, None))
    val packed = TextOps.packWith(packer, packInput, maxTokens,
      nShards, seed, countWith)
    val rows = packed
      .join(curated.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("shard"), col("pack_id"),
        col("pack_pos"), col("n_tokens"), col("text"))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "pack_id", "pack_pos")
    graft.io.Tfrecord.writeTfrecordShards(rows, outDir)
  }

  /** E10 — CRAWL FRONTIER PLANNING: the discovery trio composed into
    * the "what do we politely fetch next" table. Sitemap documents
    * enumerate candidate URLs ([[graft.io.Sitemap.sitemapEntries]] —
    * urlset legs only; index docs point at more sitemaps and belong
    * back on the DISCOVERY side — [[sitemapFrontier]] surfaces them
    * as the nested-sitemap fetch list — never in the fetch plan); per-host
    * robots bodies gate them through the real longest-match rule
    * machinery ([[graft.text.UrlOps.robotsDecisions]], rules
    * broadcast); URLs the capture index already holds anti-join away
    * (the CDX dedup role); survivors take a per-host politeness
    * sequence, and — when the host declares a Crawl-delay — the
    * earliest polite fetch offset, (fetch_seq − 1) · delay seconds.
    *
    * Scale shape: every stage is its component's ledger row — map-side
    * parses, a broadcast rules join with the regex as residual, one
    * anti-join on url, one per-host window over (host, url) rows
    * (payloads never shuffle). Output: (host, fetch_seq, url,
    * crawl_delay_s nullable, earliest_fetch_s nullable). */
  def frontierPlan(sitemaps: DataFrame, robots: DataFrame,
                   captured: DataFrame, agent: String = "*",
                   xmlCol: String = "xml",
                   capturedUrlCol: String = "url"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.text.UrlOps
    val entries = graft.io.Sitemap.sitemapEntries(
        sitemaps.select(col(xmlCol)), xmlCol)
      .filter(col("kind") === "urlset")
      .select(col("url")).distinct()
    val rules = UrlOps.robotsAgentRules(robots, agent)
    val dec = UrlOps.robotsDecisions(entries, rules,
      urlCol = "url", idCol = "url")
    val fresh = dec.join(
      captured.select(col(capturedUrlCol).as("url")).distinct(),
      Seq("url"), "left_anti")
    val delays = UrlOps.robotsCrawlDelays(robots, agent)
    fresh.filter(col("allowed") === 1)
      .withColumn("host", regexp_extract(col("url"), "://([^/]+)", 1))
      .withColumn("fetch_seq", row_number().over(
        Window.partitionBy("host").orderBy("url")))
      .join(broadcast(delays), Seq("host"), "left")
      .withColumn("earliest_fetch_s",
        (col("fetch_seq") - 1).cast("double") * col("crawl_delay_s"))
      .select(col("host"), col("fetch_seq"), col("url"),
        col("crawl_delay_s"), col("earliest_fetch_s"))
  }

  /** E10's DISCOVERY leg — the nested-sitemap fetch list
    * [[frontierPlan]] deliberately keeps out of the page fetch plan:
    * sitemapINDEX documents (the NORM for real hosts — one index
    * pointing at date- or section-sharded child sitemaps) enumerate
    * further sitemaps, and those URLs must go back to the sitemap
    * fetcher or an index-rooted host discovers nothing. One row per
    * undiscovered child sitemap: (host, url, lastmod — the max
    * declared freshness hint when several indexes list the same
    * child, empty when none declares one).
    *
    * `fetched` is the set of sitemap URLs already retrieved (the
    * caller's sitemap ledger) — anti-joined away so each round only
    * fetches new children. The crawl loop is the caller's:
    * round N's index docs → this list → fetch → round N+1's docs →
    * re-plan; a bounded loop over this method IS the bounded-depth
    * recursion (each round is one hop down the index tree, and real
    * trees are 1-2 hops deep).
    *
    * Scale shape: map-side parse, one |children|-row groupBy (child
    * sitemap counts are host-scale, orders below page counts), one
    * anti-join on url. Page payloads never enter. */
  /** E10 → E6 bridge: scope an archive FETCH PLAN to the frontier —
    * the step that closes the discovery loop when the corpus already
    * holds captures (Common-Crawl-style reuse: fetch from the archive,
    * not the live site). CDX records digest-dedup first (duplicate
    * content keeps its earliest capture), restrict to the frontier's
    * URLs (one semi-join — the frontier is the small side at any
    * scale, but the join is url-keyed either way), then
    * [[graft.io.Cdx.planFetch]] orders each archive's wanted records
    * by byte offset: one monotone range-request sweep per WARC.
    * Output: (filename, fetch_seq, offset, length, url, digest).
    * Feed the plan's urls to [[ingestWarc]]'s `planUrls` to replay
    * the fetch locally, then [[curate]] — frontier → plan → ingest →
    * curate, the full E10→E6 composition (PipelineSpec pins it). */
  def frontierFetchPlan(frontier: DataFrame, cdxRecords: DataFrame,
                        okStatusOnly: Boolean = true): DataFrame =
    graft.io.Cdx.planFetch(
      graft.io.Cdx.dedupByDigest(cdxRecords)
        .join(frontier.select(col("url")).distinct(), Seq("url"),
          "left_semi"),
      okStatusOnly)

  /** E10's ROOT — sitemap seeds from robots.txt: hosts ANNOUNCE their
    * sitemaps with `Sitemap:` lines (the standard discovery channel;
    * robots.txt is the one URL every polite crawler fetches first), so
    * the full discovery chain is robots → seeds (here) → fetch →
    * [[sitemapFrontier]] (index recursion) → [[frontierPlan]] (page
    * plan) → [[frontierFetchPlan]]/[[ingestWarc]] → [[curate]]. One
    * row per (host, announced sitemap URL), distinct; map-side regex
    * over robots bodies already in memory — nothing shuffles but the
    * host-scale seed rows. */
  def sitemapSeeds(robots: DataFrame, hostCol: String = "host",
                   bodyCol: String = "body"): DataFrame =
    robots.select(col(hostCol).as("host"),
        explode(graft.io.Sitemap.sitemapsFromRobots(col(bodyCol)))
          .as("url"))
      .distinct()

  def sitemapFrontier(sitemaps: DataFrame, fetched: DataFrame,
                      xmlCol: String = "xml",
                      fetchedUrlCol: String = "url"): DataFrame =
    graft.io.Sitemap.sitemapEntries(
        sitemaps.select(col(xmlCol)), xmlCol)
      .filter(col("kind") === "index")
      .join(fetched.select(col(fetchedUrlCol).as("url")).distinct(),
        Seq("url"), "left_anti")
      .groupBy("url")
      .agg(max(col("lastmod")).as("lastmod"))
      .select(regexp_extract(col("url"), "://([^/]+)", 1).as("host"),
        col("url"), col("lastmod"))
}
