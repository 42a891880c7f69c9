package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Readers
import graft.ops._
import graft.text.{TextOps, UrlOps}
import graft.dedup.Dedup
import graft.ml.Similarity
import graft.multimodal.Multimodal

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with an ANSI-SQL DuckDB oracle over the same parquet
  * tables (TESTDATA.md). Every query orders deterministically and aliases
  * computed columns identically on both sides; computed doubles are rounded
  * so cross-engine float summation order cannot flip the hash.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Readers.table(s, dir, name)

  /** The ANN queries' shared demo query vector: embedding of vec_id 0 as
    * doubles (the convention the ANN oracles hard-code as
    * `WHERE vec_id = 0`). */
  private def queryVec(embs: DataFrame): Array[Double] =
    embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray

  /** Shared by q07/q62: same fact (lineitem) and interval (high-value
    * order windows) inputs, so the broadcast and binned paths stay
    * semantically locked to one oracle. */
  private def pointInIntervalInputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val li = t(s, dir, "lineitem").withColumnRenamed("l_shipdate", "ts0")
    val iv = t(s, dir, "orders")
      .filter(col("o_totalprice") > 499000)
      .select(col("o_orderdate").as("start_time"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("end_time"))
    (li, iv)
  }

  /** q204/q205's synthesized conversation: the doc's first 20 words as
    * four 5-word alternating user/assistant turns (short docs lose
    * trailing turns; the oracles replay the identical slicing). */
  private def chatTurnsOf: Column = {
    val words = filter(TextOps.wsTokens(col("text")), w => length(w) > 0)
    filter(
      transform(sequence(lit(0), lit(3)), k =>
        struct(
          when(k % 2 === 0, lit("user")).otherwise(lit("assistant"))
            .as("role"),
          array_join(slice(words, k * 5 + 1, lit(5)), " ").as("content"))),
      x => length(x.getField("content")) > 0)
  }

  /** Shared by q139/q140: deterministic raw URL per document, carrying
    * every noise class `UrlOps.normalizeUrl` must fix. The q139 oracle
    * derives the expected canonical form from these same formulas. */
  private def rawUrlOf: Column = concat(
    when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("http")),
    lit("://"),
    when(col("doc_id") % 7 === 0,
      concat(lit("Files."), col("source"), lit(".CO.UK")))
      .otherwise(concat(lit("WWW."), col("source"), lit(".Example.COM"))),
    when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
    lit("/Data//set-"), (col("doc_id") % 5).cast("string"), lit("/"),
    lit("?utm_source=x&id="), col("doc_id").cast("string"),
    lit("&fbclid=z#frag"))

  /** Materializes the checked-in WARC fixture
    * (src/main/resources/graft/fixture.warc) to a per-JVM UNIQUE temp
    * path for the line-delimited text scan; q138's oracle hard-codes the
    * same five records. A lazy val over `createTempFile` (not a fixed
    * shared name): concurrent JVMs (bench and verify in parallel) each
    * get their own copy, so neither can read the other's mid-copy file. */
  private def fixtureToTemp(resource: String, suffix: String): String = {
    val out = java.nio.file.Files.createTempFile("graft_fixture_", suffix)
    out.toFile.deleteOnExit()
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"$resource missing from classpath")
    try java.nio.file.Files.copy(in, out,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    out.toString
  }

  private lazy val warcFixturePath: String =
    fixtureToTemp("/graft/fixture.warc", ".warc")

  /** q216's charset-zoo WARC fixture (ISO-8859-1 / meta-declared
    * Shift_JIS / bare UTF-8 / invalid-byte / unsupported-name records),
    * same per-JVM-unique-copy convention. */
  private lazy val warcCharsetFixturePath: String =
    fixtureToTemp("/graft/fixture_charsets.warc", ".warc")

  /** q199/q200's WET/WAT sidecar fixtures, same per-JVM-unique-copy
    * convention as [[warcFixturePath]]. */
  private lazy val wetFixturePath: String =
    fixtureToTemp("/graft/fixture.wet", ".wet")
  private lazy val watFixturePath: String =
    fixtureToTemp("/graft/fixture.wat", ".wat")

  /** Shared by q58/q59: the first `k` embedding vectors as deterministic
    * seed centroids (cluster id = vec_id). */
  private def seedCentroids(embs: DataFrame,
                            k: Int = 3): Seq[(Long, Array[Double])] =
    embs.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** Flagship: the stage-3/4 composition (clamp → 5-min categorize → merge
    * adjacent) on the events stream. Driver smoke-checks rows > 0 at
    * sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = t(spark, dir, "events")
    val clamped = Filters.clampKinds(ev,
      Map("click" -> (1.0, 400.0), "error" -> (5.0, 300.0)),
      kindCol = "event_type", valueCol = "value")
    val cat = Acc.binCategorize(clamped, lit(5.0), lit(200.0),
      partitionCols = Seq("event_type"), binSizeMinutes = 5,
      tsCol = "ts", valueCol = "value")
    Windows.mergeAdjacentWindows(cat.select("event_type", "start_time",
      "end_time", "category"), Seq("event_type"))
  }

  // ----------------------------------------------------------------------
  // queries
  // ----------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P3: band predicate (subset_df)
    "q01_range_filter" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(Filters.bandPredicate(col("value"), 5.0, 300.0,
          keepNaN = false))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
    }),

    // P4: partition-replace / per-kind clamp as one when-cascade
    "q02_partition_replace" -> ((s, dir) => {
      Filters.clampKinds(t(s, dir, "events"),
        Map("click" -> (1.0, 400.0), "error" -> (5.0, 300.0)),
        kindCol = "event_type", valueCol = "value", keepNaN = false)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
    }),

    // P8+A3: epoch→timestamp tumbling 5-min window aggregate
    "q03_epoch_window" -> ((s, dir) => {
      // avg as ONE UNROUNDED division over an exact integer sum (values
      // are exact 2-decimal): plain avg() is summation-order-dependent
      // in its last ulp, and ROUNDING the quotient is worse — sums of
      // 2dp values over n events quantize to 1/(100n) steps, which land
      // on decimal ties that the engines' round() break differently.
      // exact_long / exact_double is IEEE-correctly-rounded everywhere,
      // so the unrounded quotient is bit-identical cross-engine
      t(s, dir, "events")
        .groupBy(TimeOps.timeBucket(col("ts"), 300L).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")) /
            (count(lit(1)) * 100.0)).as("avg_value"))
        .orderBy("window_start", "event_type")
    }),

    // W1: dedup-consecutive (keep change points) on a quantized value
    "q04_dedup_consecutive" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("q", floor(col("value") / 50).cast("long"))
      Windows.dedupConsecutive(ev, "q", Seq("user_id"),
        Seq("ts", "event_id"))
        .select("event_id", "user_id", "q")
        .orderBy("event_id")
    }),

    // A5: run-length islands (flatline detection shape)
    "q05_runlength_islands" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("q", floor(col("value") / 100).cast("long"))
      Filters.flatlineIntervals(ev, "ts", "q", Seq("user_id"), maxRun = 2)
        .select("user_id", "q", "start_time", "end_time", "n", "include")
        .orderBy("user_id", "start_time", "q")
    }),

    // W3: merge overlapping intervals
    "q06_interval_merge" -> ((s, dir) => {
      val iv = t(s, dir, "events").select(col("user_id"),
        col("ts").as("start_time"),
        (col("ts") + expr("INTERVAL 300 SECONDS")).as("end_time"))
      Windows.mergeIntervals(iv, Seq("user_id"))
        .select("user_id", "start_time", "end_time")
        .orderBy("user_id", "start_time")
    }),

    // J1: point-in-interval semi-join (broadcast non-equi)
    "q07_point_in_interval_join" -> ((s, dir) => {
      val (li, iv) = pointInIntervalInputs(s, dir)
      Filters.pointInInterval(li, iv, "ts0")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // A2: exact quantile band
    "q08_quantile_band" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, array(0.025, 0.975))").as("q"))
        .select(col("l_returnflag"),
          round(element_at(col("q"), 1), 4).as("lo"),
          round(element_at(col("q"), 2), 4).as("hi"))
        .orderBy("l_returnflag")
    }),

    // A3+A4: tumbling-bin outlier-fraction categorize
    "q09_window_categorize" -> ((s, dir) => {
      Acc.binCategorize(t(s, dir, "events"), lit(5.0), lit(200.0),
        partitionCols = Seq("event_type"), binSizeMinutes = 5,
        tsCol = "ts", valueCol = "value")
        .select(col("event_type"), col("start_time"), col("end_time"),
          col("category"), round(col("outlier_pct"), 4).as("outlier_pct"))
        .orderBy("event_type", "start_time")
    }),

    // J3: interval subtraction via boundary sweep
    "q10_interval_subtract" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val base = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("start_time"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("end_time"))
      val sub = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("start_time"),
          (col("ts") + expr("INTERVAL 2 MINUTES")).as("end_time"))
      Intervals.subtractIntervals(base, sub, Seq("user_id"))
        .select("user_id", "start_time", "end_time")
        .orderBy("user_id", "start_time")
    }),

    // P9-P11: seconds-of-day, bin, magnitude math
    "q11_gforce_math" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")) % lit(86400000000L))
        .select(col("event_id"),
          round(col("us").cast("double") / 1e6, 6).as("seconds"),
          floor(col("us") / lit(300000000L)).cast("int").as("bin"),
          round(sqrt(col("value") * col("value") +
            (col("user_id") % 10) * (col("user_id") % 10)), 6).as("mag"))
        .orderBy("event_id")
    }),

    // P18: regexp extraction from a semi-structured column
    "q12_regexp_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("k",
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int"))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")
    }),

    // P12: unpivot wide→tall
    "q13_unpivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "kind", "data")
        .orderBy("l_orderkey", "l_linenumber", "kind")
    }),

    // G1: positional explode with synthetic sample timestamps
    "q14_explode_smooth" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(slice(col("embedding"), 1, 5)))
        .select(col("vec_id"), col("pos"),
          col("col").cast("double").as("val"),
          timestamp_micros(col("pos") * lit(100000L)).as("sample_ts"))
        .orderBy("vec_id", "pos")
    }),

    // W2: counter-reset delta (quirk Q5 semantics)
    "q15_counter_reset" -> ((s, dir) => {
      Windows.counterDelta(t(s, dir, "events"), "ts", "value",
        Seq("user_id"), Seq("ts", "event_id"), resetGapHours = 12)
        .select(col("event_id"), col("user_id"),
          round(col("mins"), 4).as("mins"))
        .orderBy("event_id")
    }),

    // W4: merge adjacent same-category windows
    "q16_merge_windows" -> ((s, dir) => {
      val cat = Acc.binCategorize(t(s, dir, "events"), lit(5.0), lit(200.0),
        partitionCols = Seq("event_type"), binSizeMinutes = 5,
        tsCol = "ts", valueCol = "value")
        .select("event_type", "start_time", "end_time", "category")
      Windows.mergeAdjacentWindows(cat, Seq("event_type"))
        .select("event_type", "category", "start_time", "end_time")
        .orderBy("event_type", "start_time")
    }),

    // W7: threshold events → trailing intervals
    "q17_step_intervals" -> ((s, dir) => {
      Windows.trailingIntervals(t(s, dir, "events"), "ts", "value",
        windowMinutes = 10, keepCols = Seq("user_id", "event_id"),
        threshold = 300.0)
        .select("user_id", "event_id", "start_time", "end_time")
        .orderBy("event_id")
    }),

    // W6/J5: top-1 by rank per group
    "q18_top1_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type")
        .orderBy(col("value").asc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("event_type", "event_id", "value")
        .orderBy("event_type")
    }),

    // P19: duration-string parse
    "q19_duration_parse" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .withColumn("dur_str", concat(col("l_linenumber").cast("string"),
          lit("h"), (col("l_partkey") % 60).cast("string"), lit("m")))
        .select(col("l_orderkey"), col("l_linenumber"), col("dur_str"),
          TimeOps.durationToMinutes(col("dur_str")).as("minutes"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // J4 (relational re-spec): as-of backward join
    "q20_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val errors = ev.filter(col("event_type") === "error")
        .groupBy("user_id", "ts").agg(max("value").as("value"))
      AsOf.asofBackward(clicks, errors, Seq("user_id"), "ts", "ts",
        Seq("value"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_value"))
        .orderBy("event_id")
    }),

    // ---- training-data extensions ------------------------------------

    // exact dedup (hash groupBy)
    "q21_dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    }),

    // normalized near-exact dedup
    "q22_dedup_normalized" -> ((s, dir) => {
      Dedup.normalized(t(s, dir, "documents"))
        .select("fp", "keep_id", "n_copies")
        .orderBy("keep_id")
    }),

    // n-gram Jaccard near-dup (inverted-index join, no cross join)
    "q23_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccard(t(s, dir, "documents"), shingleN = 3,
        minJaccard = 0.1, maxDf = Int.MaxValue)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6)
          .as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // cross-document boilerplate: per-doc fraction of shingles appearing
    // in other docs too — no pair generation, the scale-path dup signal
    "q113_boilerplate" -> ((s, dir) => {
      Dedup.duplicatedShingleFraction(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_shingles"), col("n_duplicated"),
          round(col("dup_fraction"), 6).as("dup_fraction"))
        .orderBy("doc_id")
    }),

    // exact substring dedup WITH removal rewrite: chunk-level boilerplate
    // removed globally (keep-first owner), documents rewritten in place —
    // pass 2 is the broadcast map-only kernel, no text shuffle
    "q114_substring_dedup" -> ((s, dir) => {
      Dedup.substringDedup(t(s, dir, "documents"), chunkLen = 32)
        .orderBy("doc_id")
    }),

    // intra-document repeated-chunk removal — the within-page half of the
    // C4 cleanup (q114 is the cross-doc half); pure built-ins, zero
    // shuffle. chunkLen 6 because the synthetic docs are short token
    // soup; web-scale corpora use 32+ like q114
    "q117_intradoc_dedup" -> ((s, dir) => {
      Dedup.dedupChunksWithinDoc(t(s, dir, "documents"), chunkLen = 6)
        .orderBy("doc_id")
    }),

    // directed containment pairs — the quote/expansion detector symmetric
    // Jaccard misses; threshold low enough to exercise both directions
    "q111_containment" -> ((s, dir) => {
      Dedup.containmentPairs(t(s, dir, "documents"), shingleN = 3,
        minContainment = 0.3, maxDf = Int.MaxValue)
        .select(col("id_a"), col("id_b"),
          round(col("cont_a_in_b"), 6).as("cont_a_in_b"),
          round(col("cont_b_in_a"), 6).as("cont_b_in_a"))
        .orderBy("id_a", "id_b")
    }),

    // dedup clusters: candidate pairs → connected components
    "q41_dedup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccard(docs, minJaccard = 0.4,
        maxDf = Int.MaxValue)
      Dedup.connectedComponents(
        docs.select(col("doc_id").as("id")), pairs, pairsVerified = true)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    }),

    // MinHash+LSH near-dup candidates. Portable (md5-based) hashing so the
    // full signature→band→candidate pipeline is strictly DuckDB-verifiable;
    // production callers default to the faster xxhash64 mode.
    "q24_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashCandidates(t(s, dir, "documents"),
        numHashes = 16, bands = 4, portable = true)
        .select(col("id_a"), col("id_b"),
          round(col("est_jaccard"), 6).as("est_jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // split-leakage report: near-dup candidates crossing the train/val/
    // test hash split — the eval-integrity composition of q24 and q42
    "q108_split_leakage" -> ((s, dir) => {
      Dedup.splitLeakage(t(s, dir, "documents"),
        numHashes = 16, bands = 4, portable = true)
        .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
          round(col("est_jaccard"), 6).as("est_jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // SimHash near-dup candidates (portable 60-bit fingerprints — same
    // strict-oracle rationale as q24)
    "q25_simhash" -> ((s, dir) => {
      Dedup.simhashCandidates(t(s, dir, "documents"), portable = true)
        .orderBy("id_a", "id_b")
    }),

    // brute-force cosine top-k (exact ANN baseline)
    "q26_embedding_topk" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val q = queryVec(embs)
      Similarity.bruteForceTopK(embs, typedlit(q), 10)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
    }),

    // LSH-bucketed ANN (rows-only check; scale path)
    "q27_lsh_topk" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val q = queryVec(embs)
      Similarity.lshTopK(embs, typedlit(q), 10, planes = 6)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
    }),

    // ANN quality gauge: recall@10 of the LSH-bucketed result against
    // the exact brute-force baseline — a 2×k-row semi-join + count,
    // O(k) whatever the corpus size
    "q105_ann_recall" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val q = queryVec(embs)
      Similarity.recallAtK(
        Similarity.bruteForceTopK(embs, typedlit(q), 10),
        Similarity.lshTopK(embs, typedlit(q), 10, planes = 6), 10)
    }),

    // product-quantization encode: 8 subspaces × 16-centroid codebook
    // (deterministic first-16 vectors) → one small int per subspace;
    // map-only broadcast-kernel encode, integer output = exact oracle
    "q106_pq_encode" -> ((s, dir) => {
      Similarity.pqEncode(t(s, dir, "embeddings"), m = 8, k = 16)
        .select(col("vec_id"),
          posexplode(col("codes")).as(Seq("subspace", "code")))
        .orderBy("vec_id", "subspace")
    }),

    // embedding-cosine near-dup pairs, IVF-style label blocking
    "q28_embedding_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDup(t(s, dir, "embeddings"), minCosine = 0.3,
        blockCol = Some("label"))
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6)
          .as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    // rolling-hash content-defined fingerprints
    "q38_rolling_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.rollingFingerprints(col("text")).as("fps"))
        .select(col("doc_id"), size(col("fps")).as("n_fps"),
          array_min(col("fps")).as("min_fp"))
        .orderBy("doc_id")
    }),

    // IVF ANN: label-quantized probe + exact rescore (rows-only)
    "q39_ivf_topk" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val q = queryVec(embs)
      Similarity.ivfTopK(embs, typedlit(q), 10, "label", nProbe = 3)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
    }),

    // language-ID heuristic
    "q29_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.langIdEn(col("text")).as("lang_pred"),
          round(TextOps.stopwordRatio(col("text")), 6).as("stop_ratio"))
        .orderBy("doc_id")
    }),

    // quality scoring
    "q30_quality_score" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(TextOps.punctRatio(col("text")), 6).as("punct_ratio"),
          round(TextOps.meanTokenLen(col("text")), 6).as("mean_tok_len"),
          round(TextOps.qualityScore(col("text")), 6).as("quality"))
        .orderBy("doc_id")
    }),

    // token counting (whitespace + BPE-ish regex)
    "q31_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokenCount(col("text"))
          .as("n_tokens"),
          TextOps.subwordCount(col("text")).as("n_subwords"),
          length(col("text")).as("n_chars_calc"))
        .orderBy("doc_id")
    }),

    // document fingerprinting
    "q32_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(col("text")).as("fp"),
          TextOps.normalizedFingerprint(col("text")).as("norm_fp"))
        .orderBy("doc_id")
    }),

    // W5: gap-based sessionization
    "q33_sessionize" -> ((s, dir) => {
      Windows.sessionize(t(s, dir, "events"), "ts", Seq("user_id"),
        gapSeconds = 3600.0)
        .select("event_id", "user_id", "session_id")
        .orderBy("event_id")
    }),

    // star-schema multi-join: fact ⋈ 4 dims, broadcast-planned
    "q40_star_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("r_name", "n_name")
    }),

    // A6/A7: per-group counts + distinct
    "q36_distinct_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          // unrounded exact_long/exact_double division — integer avgs
          // quantize to 1/n steps whose decimal ties engines round
          // differently (the q03/q70 class)
          (sum("n_chars") / (count(col("n_chars")) * 1.0)).as("avg_chars"))
        .orderBy("source")
    }),

    // U1: union-by-name of differently-shaped relations
    "q37_union_all" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(lit("order").as("src"),
        col("o_orderkey").as("id"), col("o_totalprice").as("amount"))
      val l = t(s, dir, "lineitem").select(lit("line").as("src"),
        col("l_orderkey").as("id"), col("l_extendedprice").as("amount"))
      o.unionByName(l).orderBy("src", "id", "amount")
    }),

    // multimodal decode with REAL JDK codecs (ImageIO PNG, AudioSystem
    // WAV): payloads are synthesized from pure integer formulas of doc_id,
    // round-tripped through the lossless encoders/decoders, and the oracle
    // recomputes the exact expected dimensions + channel/sample statistics
    // from the same formulas in SQL — the decoded numerics themselves are
    // the gate, not just routing/arity
    "q34_multimodal_features" -> ((s, dir) => {
      val assets = Multimodal.synthesizeAssets(t(s, dir, "documents"))
      Multimodal.extractFeatures(assets)
        .select(col("asset_id"), col("modality"), col("width"),
          col("height"), round(col("m0"), 6).as("m0"),
          round(col("m1"), 6).as("m1"), round(col("m2"), 6).as("m2"))
        .orderBy("asset_id")
    }),

    // multimodal frame sampling — seeks + ImageIO-decodes each sampled
    // GFV1 frame; oracle pins the frame grid (every 1000 ms, capped at 8)
    // AND each frame's decoded dimensions + all-channel pixel mean
    "q35_frame_sample" -> ((s, dir) => {
      val assets = Multimodal.synthesizeAssets(t(s, dir, "documents"))
      Multimodal.sampleFrames(assets, everyMs = 1000L, maxFrames = 8)
        .select(col("asset_id"), col("frame_ms"), col("width"),
          col("height"), round(col("mean_all"), 6).as("mean_all"))
        .orderBy("asset_id", "frame_ms")
    }),

    // nearest-neighbor image resize to 8x8 with re-extracted channel
    // means — the sampling rule (⌊X·w/W⌋) is explicit, so the oracle
    // recomputes the resized stats from the synthesis formulas exactly
    "q102_image_resize" -> ((s, dir) => {
      val assets = Multimodal.synthesizeAssets(t(s, dir, "documents"))
      Multimodal.resizeImages(assets, targetW = 8, targetH = 8)
        .select(col("asset_id"), col("width"), col("height"),
          round(col("m0"), 6).as("m0"), round(col("m1"), 6).as("m1"),
          round(col("m2"), 6).as("m2"))
        .orderBy("asset_id")
    }),

    // frame-level audio features over the real decoded PCM stream: 32
    // samples per frame, trailing partial frame kept with its true count
    "q103_audio_frames" -> ((s, dir) => {
      val assets = Multimodal.synthesizeAssets(t(s, dir, "documents"))
      Multimodal.audioFrames(assets, frameSamples = 32)
        .select(col("asset_id"), col("frame_idx"), col("n_samples"),
          round(col("mean"), 6).as("mean"), round(col("rms"), 6).as("rms"))
        .orderBy("asset_id", "frame_idx")
    }),

    // deterministic md5 train/val/test split — membership is a pure
    // function of the id, stable across engines and runs
    "q42_hash_split" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.hashBucket(col("doc_id")).as("bucket"),
          TextOps.hashSplit(col("doc_id")).as("split"))
        .orderBy("doc_id")
    }),

    // PII scrubbing (emails + phone suffixes) over deterministic contact
    // strings constructed from the corpus
    "q43_pii_scrub" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.scrubPii(concat_ws(" ",
            concat(col("source"), lit("+"), col("doc_id").cast("string"),
              lit("@mail.example.org")),
            concat(lit("call 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")),
            substring(col("text"), 1, 40))).as("scrubbed"))
        .orderBy("doc_id")
    }),

    // top-k per group: best-3 documents per source by length
    "q44_topk_per_group" -> ((s, dir) => {
      Windows.topKPerGroup(t(s, dir, "documents"), Seq("source"),
        Seq(col("n_chars").desc, col("doc_id").asc), 3)
        .select("source", "doc_id", "n_chars", "rk")
        .orderBy("source", "rk")
    }),

    // anti-join: orders with no high-discount line (filtered build side)
    "q45_anti_join" -> ((s, dir) => {
      val hot = t(s, dir, "lineitem").filter(col("l_discount") > 0.07)
      t(s, dir, "orders")
        .join(hot, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // rollup: flag × status hierarchy with subtotal rows
    "q46_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("n"), col("sum_qty"))
        .orderBy("rflag", "lstatus")
    }),

    // fixed-width length histogram
    "q47_histogram" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy((floor(col("n_chars") / 50) * 50).cast("long").as("bin_lo"))
        .agg(count(lit(1)).as("n_docs"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("bin_lo")
    }),

    // pivot: per-source char volume by language (explicit value list so
    // the output schema is static — no collect-distinct planning pass)
    "q48_pivot" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("source")
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(sum("n_chars"))
        .orderBy("source")
    }),

    // nearest-within-tolerance as-of join (J4 relational form): each click
    // matched to the nearest error observation within 10 min, backward
    // winning ties
    "q49_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val errors = ev.filter(col("event_type") === "error")
        .groupBy("user_id", "ts").agg(max("value").as("value"))
      AsOf.asofNearest(clicks, errors, Seq("user_id"), "ts", "ts",
        Seq("value"), toleranceSec = 600.0)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("nearest_value"), col("nearest_ts"), col("nearest_diff_us"))
        .orderBy("event_id")
    }),

    // bounded-frame window aggregate: trailing 4-row moving average
    "q50_moving_avg" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-3, 0)
      // unrounded exact-cents division (the q03/q70 tie class): 4-row
      // windows of 2-decimal values quantize mv to 1/400 steps, all of
      // which tie at 6dp
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          (sum(round(col("value") * 100).cast("long")).over(w) /
            (count(lit(1)).over(w) * 100.0)).as("mv"))
        .orderBy("event_id")
    }),

    // typed-Aggregator UDAF (§2.9): interval-union coverage per user —
    // map-side partial merges of disjoint interval lists, exact result
    "q51_interval_coverage" -> ((s, dir) => {
      val cov = Aggregators.intervalCoverageUs
      t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) + lit(300000000L)).as("e_us"))
        .groupBy("user_id")
        .agg(cov(col("s_us"), col("e_us")).as("covered_us"))
        .orderBy("user_id")
    }),

    // JSON field extraction (S2's jname-parse shape generalized): pull a
    // typed value out of a JSON string column, then aggregate — extraction
    // stays inside whole-stage codegen, no UDF
    "q52_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("k").as("min_k"),
          max("k").as("max_k"),
          // unrounded exact division (the q03/q70 tie class)
          (sum("k") / (count(col("k")) * 1.0)).as("avg_k"))
        .orderBy("event_type")
    }),

    // TF-IDF top-3 terms per document (smoothed idf). Parity note: this is
    // the one oracle whose rounded doubles pass through a transcendental
    // (ln); JVM and libm ln may differ by 1 ulp, which could in principle
    // flip a round(…,6) boundary on some corpus — accepted because the
    // gate's fixtures and engines are pinned, and score ties from equal
    // (tf, df) are exact and broken by the deterministic term ordering.
    "q53_tfidf_topk" -> ((s, dir) => {
      TextOps.tfidfTopTerms(t(s, dir, "documents"), k = 3)
        .select(col("doc_id"), col("term"),
          round(col("score"), 6).as("score"), col("rk"))
        .orderBy("doc_id", "rk")
    }),

    // benchmark decontamination: training split minus docs sharing any
    // 8-gram with the held-out test split
    "q54_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("split", TextOps.hashSplit(col("doc_id")))
      val train = docs.filter(col("split") === "train")
      val evalSet = docs.filter(col("split") === "test")
      TextOps.decontaminate(train, evalSet, n = 8)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    // within-document repetition: duplicate word-bigram fraction
    "q55_repetition" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(TextOps.duplicateNgramFraction(col("text"), 2), 6)
            .as("rep2"))
        .orderBy("doc_id")
    }),

    // the full scalable near-dup pipeline as one operator: MinHash-LSH
    // candidates → exact Jaccard verify on candidates only → connected
    // components (portable hashing so every stage is SQL-reproducible)
    "q56_neardup_pipeline" -> ((s, dir) => {
      Dedup.nearDupClusters(t(s, dir, "documents"), shingleN = 3,
        minJaccard = 0.4, numHashes = 16, bands = 4, portable = true)
        .orderBy("doc_id")
    }),

    // deterministic per-group downsampling: cap docs per language, chosen
    // by md5 order (portable "random" sample, stable across engines/runs)
    "q57_group_cap" -> ((s, dir) => {
      Windows.topKPerGroup(t(s, dir, "documents"), Seq("lang"),
        Seq(md5(col("doc_id").cast("string")).asc, col("doc_id").asc), 5)
        .select("lang", "doc_id", "rk")
        .orderBy("lang", "rk")
    }),

    // one Lloyd assignment step with driver-held centroids (vec_id 0-2 as
    // seeds): the map-only k-means shape — corpus never shuffles or joins
    "q58_kmeans_assign" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.assignToCentroids(embs, seedCentroids(embs))
        .select(col("vec_id"), col("cluster"),
          round(col("sim"), 6).as("sim"))
        .orderBy("vec_id")
    }),

    // SemDeDup: semantic dedup within coarse clusters — one-step centroid
    // assignment as blocking, cosine near-dup pairs, CC representative
    "q59_semdedup" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val assigned = Similarity.assignToCentroids(embs, seedCentroids(embs))
      Dedup.semDeDup(assigned, blockCol = "cluster", minCosine = 0.5)
        .orderBy("vec_id")
    }),

    // batched ANN serving: top-5 neighbors for a 3-query batch in one
    // pass — broadcast queries, map-side scoring, bounded TopK aggregator
    // (only queries*k rows shuffle, never the score matrix)
    "q61_batch_ann" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val queries = embs.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.batchTopK(embs, queries, k = 5)
        .select(col("q_id"), col("rk"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("q_id", "rk")
    }),

    // int8 embedding quantization (4-8x storage cut for ANN serving):
    // summary stats of the quantized vector are integer-exact
    "q60_quantize_int8" -> ((s, dir) => {
      Similarity.quantizeInt8(t(s, dir, "embeddings"))
        .select(col("vec_id"), round(col("qscale"), 6).as("qscale"),
          array_min(col("qvec")).as("q_min"),
          array_max(col("qvec")).as("q_max"),
          aggregate(col("qvec"), lit(0L), (acc, x) => acc + x).as("q_sum"))
        .orderBy("vec_id")
    }),

    // q07's semantics on the non-broadcastable scale path: equi-join on
    // coarse time buckets instead of BroadcastNestedLoopJoin (same inputs
    // and oracle as q07 — the shared builder locks the equivalence)
    "q62_binned_interval_join" -> ((s, dir) => {
      val (li, iv) = pointInIntervalInputs(s, dir)
      Filters.pointInIntervalBinned(li, iv, "ts0",
          binWidthSec = 30L * 86400)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // overlapping token-window chunking (32-token chunks, 8-token overlap)
    "q63_chunk_tokens" -> ((s, dir) => {
      TextOps.chunkTokens(t(s, dir, "documents"),
          chunkSize = 32, overlap = 8)
        .orderBy("doc_id", "token_start")
    }),

    // largest-feasible-mixture quota sampling over `source` strata
    "q64_mixture_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val rates = TextOps.mixtureRates(docs, MixtureShares)
      TextOps.mixtureSample(docs, rates)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // corpus vocabulary top-k by occurrence count
    // Zipf power-law fit over the top-100 token frequencies (dataset-card
    // statistic); slope/intercept from exact sufficient statistics
    "q104_zipf_slope" -> ((s, dir) => {
      TextOps.zipfSlope(t(s, dir, "documents"), maxVocab = 100)
        .select(col("n_tokens"), round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"))
    }),

    "q65_vocab_topk" -> ((s, dir) => {
      TextOps.vocabulary(t(s, dir, "documents"), k = 50)
        .orderBy(col("n").desc, col("token"))
    }),

    // source-pair template sharing: distinct 32-char chunk values present
    // in both sources — boilerplate flow between sources
    "q124_chunk_sharing" -> ((s, dir) => {
      Dedup.chunkSharingMatrix(t(s, dir, "documents"))
        .orderBy("source_a", "source_b")
    }),

    // two-stage ANN through the JL projection: bucket in 8-dim projected
    // space, full-dim re-score on probed buckets, recall vs exact brute
    // — the measured end of the randomProject scale story
    // single-scan fusion of the exact/approx top-k lists + recall (one
    // cosine+projection pass, both k-lists in one aggregation) — the
    // composed recallAtK(bruteForceTopK, projectedLshTopK) form pays
    // the scoring scan once per TakeOrdered branch; results identical
    "q137_projected_ann" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val q = queryVec(embs)
      Similarity.projectedAnnRecall(embs, q, 10)
    }),

    // URL canonicalization + registrable domain — the crawl pipeline's
    // cheapest filter stage. Raw URLs are synthesized deterministically
    // from (doc_id, source) with every noise class the normalizer must
    // fix (uppercase scheme/host, default port, duplicate slashes,
    // trailing slash, tracking params, fragment); the oracle computes
    // the EXPECTED canonical form directly from the same formulas, so
    // the operator is checked against an independent derivation
    "q139_url_normalize" -> ((s, dir) => {
      val raw = rawUrlOf
      t(s, dir, "documents")
        .select(col("doc_id"), UrlOps.normalizeUrl(raw).as("url_norm"),
          UrlOps.registeredDomain(UrlOps.hostOf(UrlOps.normalizeUrl(raw)))
            .as("reg_domain"))
        .orderBy("doc_id")
    }),

    // broadcast domain blocklist over the same synthesized URLs:
    // example.com is blocked, so only the co.uk minority survives —
    // corpus never shuffles (left_anti against a broadcast list)
    "q140_domain_blocklist" -> ((s, dir) => {
      graft.text.UrlOps.dropBlockedDomains(
        t(s, dir, "documents").withColumn("url", rawUrlOf),
        "url", Seq("example.com"))
        .select("doc_id").orderBy("doc_id")
    }),

    // HTML main-text extraction over markup synthesized from the corpus
    // (the step between a WARC response payload and every text operator):
    // script/style/comment removal, tag strip, one level of entity
    // unescape, whitespace collapse — the oracle replays the identical
    // regex chain over the identically-synthesized markup
    "q144_html_extract" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><title>D"), col("doc_id"),
        lit("</title><style>p { color: #333; }</style>"),
        lit("<script>var x = 1 < 2 && 'doc';</script></head>"),
        lit("<body><h1>Doc "), col("doc_id"), lit("</h1><p>"),
        col("text"),
        lit(" &amp; more &lt;tags&gt;</p><!-- hidden --></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.htmlExtract(html).as("clean_text"))
        .orderBy("doc_id")
    }),

    // Gopher-style hard-rule quality battery: the interpretable
    // measurements (word band, mean word length, bullet/ellipsis lines,
    // alpha fraction, required stopwords) + composite pass verdict
    "q145_gopher_rules" -> ((s, dir) => {
      TextOps.gopherRules(t(s, dir, "documents"), minWords = 10)
        .orderBy("doc_id")
    }),

    // FineWeb-style per-domain cap over the synthesized URLs:
    // example.com is the hot domain (6/7 of docs — exactly the SEO-farm
    // skew the cap exists for), the per-source co.uk sites the tail;
    // each domain keeps a deterministic md5-ordered sample of 10 docs
    "q143_domain_cap" -> ((s, dir) => {
      graft.text.UrlOps.capPerDomain(
        t(s, dir, "documents").withColumn("url", rawUrlOf),
        "url", maxDocs = 10)
        .select("doc_id").orderBy("doc_id")
    }),

    // fuzzy eval-set decontamination: drop train docs that are MinHash
    // near-dups (exact-verified Jaccard >= 0.4) of any test doc — the
    // paraphrase-tolerant complement of q54's exact 8-gram containment
    "q142_decontaminate_fuzzy" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("split", TextOps.hashSplit(col("doc_id")))
      Dedup.decontaminateFuzzy(
        d.filter(col("split") === "train"),
        d.filter(col("split") === "test"),
        minJaccard = 0.4, numHashes = 16, bands = 4, portable = true)
        .select("doc_id").orderBy("doc_id")
    }),

    // byte-level compression-ratio quality signal (DCLM-style rule set).
    // The EXACT ratio is a zlib implementation detail and stays gated by
    // ExtensionsSpec's bit-parity-with-JDK case; the driver-green gate
    // here is the kernel's guaranteed output bound: deflate never grows
    // input by more than 5 bytes per 16 KiB block plus an 11-byte zlib
    // envelope, so 0 < ratio < 2 holds for ANY compliant zlib on any
    // text longer than 11 bytes (min text length in the corpus is 44) —
    // the oracle asserts the bound as a constant without recompressing,
    // and the kernel still runs per row (a crash/NaN breaks the match)
    "q141_compression_ratio" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.compressionRatio(col("text")).as("r"))
        .select(col("doc_id"),
          (col("r") > 0.0 && col("r") < 2.0).cast("long")
            .as("ratio_in_bounds"))
        .orderBy("doc_id")
    }),

    // S6-adjacent WARC ingest, oracle-gated: parse the checked-in fixture
    // (src/main/resources/graft/fixture.warc) — record splitting, header
    // extraction, Content-Length truncation, HTTP envelope stripping —
    // and the DuckDB oracle recomputes every row (md5 included) from the
    // same literal record bodies
    "q138_warc_ingest" -> ((s, _) => {
      graft.io.Warc.records(s, warcFixturePath)
        .select(col("record_id"), col("warc_type"), col("target_uri"),
          col("content_length"),
          graft.io.Warc.httpPayload(col("content")).as("payload"))
        .withColumn("payload_md5", md5(col("payload").cast("binary")))
        .orderBy("record_id")
    }),

    // charset-aware WARC decode over the checked-in charset-zoo fixture:
    // Content-Type charset wins (ISO-8859-1), HTML meta is the fallback
    // (Shift_JIS), absent -> UTF-8; an invalid byte under the declared
    // charset or an unsupported charset name falls back to UTF-8 with
    // replacement and reports decode_ok = 0 — flagged, never dropped
    "q216_warc_charset" -> ((s, _) => {
      graft.io.Warc.recordsDecoded(s, warcCharsetFixturePath)
        .select(col("record_id"), col("charset_declared"), col("charset"),
          col("decode_ok"), md5(col("text").cast("binary")).as("text_md5"))
        .orderBy("record_id")
    }),

    // release-drift report: PSI + KS + means between two snapshot
    // cohorts in one call — the dataset-shift gate before shipping
    "q136_drift_report" -> ((s, dir) => {
      // q97's cohort-tagging form (otherwise, not a second filter) so a
      // NULL event_id routes to cohort b exactly like the oracle's CASE
      val ev = t(s, dir, "events").withColumn("_c",
        when(TextOps.hashBucket(col("event_id"), 2) === 0, "a")
          .otherwise("b"))
      Stats.driftReport(ev.filter(col("_c") === "a"),
        ev.filter(col("_c") === "b"),
        Seq("value"), defaultBinWidth = 50.0)
    }),

    // per-doc Unicode script profile: block counts + dominant script —
    // the multilingual routing signal langIdEn's en/other can't give
    "q135_script_profile" -> ((s, dir) => {
      TextOps.scriptProfile(t(s, dir, "documents")).orderBy("doc_id")
    }),

    // split leakage under a GROUP split (hash the source, not the id):
    // the before/after measurement of group splitting as a leakage fix
    "q131_group_split_leakage" -> ((s, dir) => {
      Dedup.splitLeakage(t(s, dir, "documents"), numHashes = 16,
        bands = 4, portable = true, splitBy = Some(col("source")))
        .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
          round(col("est_jaccard"), 6).as("est_jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // perceptual 56-bit dHash per image asset: real PNG decode, explicit
    // NN 8×8 luma sampling — fingerprints bit-checked against the pixel
    // formula; near-dup pairing rides the shared Manku Hamming join
    "q130_image_dhash" -> ((s, dir) => {
      Multimodal.imageDhash(
        Multimodal.synthesizeAssets(t(s, dir, "documents")))
        .orderBy("id")
    }),

    // 56-bit audio envelope dHash: real WAV decode, integer window
    // energies, gain-invariant gradient signs — the audio leg of the
    // perceptual-dedup family, bit-checked against the sample formula
    "q133_audio_dhash" -> ((s, dir) => {
      Multimodal.audioDhash(
        Multimodal.synthesizeAssets(t(s, dir, "documents")))
        .orderBy("id")
    }),

    // per-frame video dHash (content-ID primitive): every GFV1 frame's
    // 56-bit fingerprint, bit-checked against the pixel formula
    "q134_video_dhash" -> ((s, dir) => {
      Multimodal.videoDhash(
        Multimodal.synthesizeAssets(t(s, dir, "documents")))
        .orderBy("id", "frame")
    }),

    // exact perceptual image dedup: identical dHash groups collapse to a
    // min-id keeper — digest-only shuffle, no pair expansion (scale path;
    // q130's pair join is the tuning regime)
    "q132_image_dedup" -> ((s, dir) => {
      Multimodal.imageDupGroups(
        Multimodal.synthesizeAssets(t(s, dir, "documents")))
        .orderBy("id")
    }),

    // per-point centroid silhouette over the stored labels: the O(n·k)
    // clustering-QA score (full silhouette is O(n²) and never runs at
    // scale); centroids quantized to 6dp for engine parity
    "q129_silhouette" -> ((s, dir) => {
      Similarity.silhouette(t(s, dir, "embeddings"))
        .select(col("vec_id"), col("label"),
          round(col("a"), 6).as("a"), round(col("b"), 6).as("b"),
          round(col("s"), 6).as("s"))
        .orderBy("vec_id")
    }),

    // k-anonymity audit on (lang, source, length-bin) quasi-identifiers:
    // combination-risk governance that PII scrubbing can't see
    "q128_k_anonymity" -> ((s, dir) => {
      Quality.kAnonymity(
        t(s, dir, "documents").withColumn("len_bin",
          expr("n_chars div 100")),
        Seq("lang", "source", "len_bin"), k = 5)
    }),

    // deterministic training-shard assignment: seeded md5 shard + 60-bit
    // within-shard order — the global-shuffle-without-a-global-sort layout
    "q127_training_shards" -> ((s, dir) => {
      TextOps.trainingShards(t(s, dir, "documents"), nShards = 8,
        seed = "r5")
        .select(col("doc_id"), col("shard"), col("shard_order"))
        .orderBy("doc_id")
    }),

    // LSH candidate recall vs exact Jaccard ≥ 0.4 ground truth: the
    // tune-before-commit harness for (numHashes, bands) — q105's recall
    // discipline applied to the dedup pipeline
    "q126_lsh_recall" -> ((s, dir) => {
      Dedup.lshRecall(t(s, dir, "documents"), threshold = 0.4,
        numHashes = 16, bands = 4, portable = true)
    }),

    // Johnson–Lindenstrauss random projection to 8 dims: seeded splitmix64
    // planes make the reduced coordinates bit-reproducible in the oracle
    "q125_random_project" -> ((s, dir) => {
      Similarity.randomProject(t(s, dir, "embeddings"), outDim = 8)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "coord")))
        .select(col("vec_id"), col("j"),
          round(col("coord"), 6).as("coord"))
        .orderBy("vec_id", "j")
    }),

    // token novelty in ingestion order: per-doc fraction of distinct
    // tokens never seen earlier — the corpus-freshness curve
    "q123_token_novelty" -> ((s, dir) => {
      TextOps.tokenNovelty(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_distinct_tokens"), col("n_novel"),
          round(col("novelty"), 6).as("novelty"))
        .orderBy("doc_id")
    }),

    // per-language nucleus vocabulary: smallest token prefix covering
    // half the language's token mass (count desc, token asc ties)
    "q122_nucleus_vocab" -> ((s, dir) => {
      TextOps.nucleusVocab(t(s, dir, "documents"), p = 0.5)
        .orderBy("lang", "cum")
    }),

    // strict ordered funnel, 12 h per-step deadline
    "q66_funnel" -> ((s, dir) => {
      Events.funnel(t(s, dir, "events"),
          Seq("view", "click", "purchase"), maxGapSec = 43200L)
        .orderBy("step")
    }),

    // weekly cohort retention from first signup
    "q67_retention" -> ((s, dir) => {
      Events.cohortRetention(t(s, dir, "events"))
        .orderBy("cohort_week", "week_offset")
    }),

    // first-view → first-later-purchase delay histogram (minutes)
    "q68_time_to_convert" -> ((s, dir) => {
      Events.timeToConvert(t(s, dir, "events"), "view", "purchase")
        .orderBy("delay_minutes")
    }),

    // blocked edit-distance join over the distinct name domain
    "q69_fuzzy_pairs" -> ((s, dir) => {
      Dedup.fuzzyPairs(t(s, dir, "part"), "p_name", maxDist = 3)
        .orderBy("v_a", "v_b")
    }),

    // Jaro-Winkler fuzzy pairs over the distinct name domain — the
    // transposition-tolerant record-linkage scorer levenshtein isn't;
    // native kernel, blocked candidates, strict cross-engine score parity
    "q115_jaro_pairs" -> ((s, dir) => {
      Dedup.fuzzyPairsJaro(t(s, dir, "part"), "p_name", minSim = 0.85)
        .select(col("v_a"), col("v_b"), round(col("sim"), 6).as("sim"))
        .orderBy("v_a", "v_b")
    }),

    // hopping (sliding) tumbling-window aggregate: 10 min windows every 5
    "q70_hopping_window" -> ((s, dir) => {
      // exact-integer-sum UNROUNDED avg: see q03 (same sf0.1 tie fix)
      t(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")) /
            (count(lit(1)) * 100.0)).as("avg_value"))
        .select(col("window.start").as("ws"), col("n"), col("avg_value"))
        .orderBy("ws")
    }),

    // sketch heavy hitters in the EXACT regime: the corpus vocabulary
    // (~31 tokens) fits a 4096-counter map, so Misra-Gries degenerates to
    // exact counting and the sketch output is strictly oracle-checkable
    "q72_frequent_tokens" -> ((s, dir) => {
      TextOps.frequentTokens(t(s, dir, "documents"), maxMapSize = 4096)
        .orderBy(col("estimate").desc, col("token"))
    }),

    // sequence packing: contiguous 1024-token packs per source
    "q73_sequence_packing" -> ((s, dir) => {
      TextOps.packSequences(t(s, dir, "documents"), budgetTokens = 1024,
          partitionCols = Seq("source"))
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"))
        .orderBy("source", "pack_id")
    }),

    // cube subtotals over returnflag × linestatus (q46's rollup, full cube)
    "q71_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("n"), col("sum_qty"))
        .orderBy("rflag", "lstatus")
    }),

    // BM25 retrieval: top-15 docs for a 3-term query ('dup' is the rare,
    // high-idf discriminator); ranking on the rounded score so the
    // k-boundary can't flip across engines
    "q74_bm25_topk" -> ((s, dir) => {
      TextOps.bm25TopK(t(s, dir, "documents"), Bm25Terms, k = 15)
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // per-source adaptive quality gate: keep docs above their source's
    // 20th-percentile quality (exact per-group percentile threshold)
    "q75_adaptive_gate" -> ((s, dir) => {
      TextOps.adaptiveQualityGate(t(s, dir, "documents"), pct = 0.2)
        .select(col("doc_id"), col("source"),
          round(col("quality"), 6).as("quality"))
        .orderBy("doc_id")
    }),

    // q56's near-dup pipeline with quality-aware representatives: keep the
    // LONGEST doc per cluster (integer-exact order), not the min id
    "q76_keep_best" -> ((s, dir) => {
      Dedup.nearDupKeepBest(t(s, dir, "documents"), shingleN = 3,
        minJaccard = 0.4, numHashes = 16, bands = 4, portable = true)
        .orderBy("doc_id")
    }),

    // robust outliers: modified z-score (median + MAD) per event type —
    // the multiply-through form, no division by MAD
    "q77_mad_outliers" -> ((s, dir) => {
      Stats.madOutliers(t(s, dir, "events"), Seq("event_type"), "value")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("is_outlier").as("n_outliers"),
          round(max("med"), 6).as("med"), round(max("mad"), 6).as("mad"))
        .orderBy("event_type")
    }),

    // first-order event-transition matrix (Markov view of user flows)
    "q78_transitions" -> ((s, dir) => {
      Events.transitionCounts(t(s, dir, "events"))
        .orderBy("from_type", "to_type")
    }),

    // equal-frequency decile discretizer per event type (ntile)
    "q79_quantile_buckets" -> ((s, dir) => {
      Windows.quantileBuckets(t(s, dir, "events"), Seq("event_type"),
          Seq(col("value").asc, col("event_id").asc), 10)
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"), round(min("value"), 2).as("lo"),
          round(max("value"), 2).as("hi"))
        .orderBy("event_type", "bucket")
    }),

    // deterministic A/B readout: md5-bucket variants, conversion = a
    // high-value purchase, rates + two-proportion z — one row out
    "q80_ab_test" -> ((s, dir) => {
      Events.abTest(t(s, dir, "events"),
        col("event_type") === "purchase" && col("value") > 300)
    }),

    // within-doc co-occurrence with PMI scoring (collocation mining)
    "q81_pmi_pairs" -> ((s, dir) => {
      TextOps.pmiPairs(t(s, dir, "documents"), minPairCount = 50, k = 40)
    }),

    // 30-min inactivity sessions, one row per session with conversion flag
    "q82_session_stats" -> ((s, dir) => {
      Events.sessionStats(t(s, dir, "events"), gapSeconds = 1800)
        .orderBy("user_id", "session_id")
    }),

    // two-phase salted aggregation must equal the direct groupBy — the
    // skew tool under the strict gate (oracle is the UNSALTED form)
    "q83_salted_agg" -> ((s, dir) => {
      Skew.twoPhaseAgg(t(s, dir, "events"), Seq("event_type"),
          col("event_id"), buckets = 16,
          partial = sum(col("value")), finalAgg = sum(col("_partial")))
        .select(col("event_type"), round(col("agg"), 4).as("sum_value"))
        .orderBy("event_type")
    }),

    // hourly grid resample with forward fill (as-of onto the grid);
    // DuckDB's native ASOF LEFT JOIN is the oracle
    "q85_resample_ffill" -> ((s, dir) => {
      AsOf.resampleFfill(t(s, dir, "events"), Seq("user_id"), "ts",
          Seq("value"), stepSec = 3600L)
        .orderBy("user_id", "grid_ts")
    }),

    // deterministic weighted sampling (A-ES, md5 uniform, n_chars weight)
    "q86_weighted_sample" -> ((s, dir) => {
      TextOps.weightedSample(t(s, dir, "documents"), col("n_chars"),
          k = 100)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    // canonical-URL dedup: %9∈{0,3,6} docs declare a shared ABSOLUTE
    // canonical target (9 groups); %9∈{1,4,7} declare a ROOT-RELATIVE
    // canonical that must resolve against the page's own host h{id%4}
    // (4 hosts × 3 path ids = up to 12 groups — without resolution
    // they would all mass-collapse into one "/c{..}" key, the exact
    // failure the r10 advice flagged); the rest fall back to their own
    // unique URLs
    "q215_canonical_dedup" -> ((s, dir) => {
      val id = col("doc_id")
      val ownUrl = concat(lit("https://h"), (id % 4).cast("string"),
        lit(".example.com/p"), id.cast("string"))
      val html = when(id % 3 === 0,
        concat(lit("<link rel=\"canonical\" " +
          "href=\"https://example.com/canon/"),
          (id % 9).cast("string"), lit("\">")))
        .when(id % 3 === 1,
          concat(lit("<link rel=\"canonical\" href=\"/c"),
            (id % 9).cast("string"), lit("\">")))
        .otherwise(lit("<p>x</p>"))
      graft.text.UrlOps.canonicalDedup(
          t(s, dir, "documents")
            .select(id, ownUrl.as("url"), html.as("html")))
        .select("doc_id", "canonical", "keep")
        .orderBy("doc_id")
    }),

    // robots-meta + canonical-link compliance signals over synthesized
    // heads: %4 noindex meta, %6 a reversed-attr nofollow meta, %3/%5
    // canonical links in both attribute orders
    "q213_crawl_compliance" -> ((s, dir) => {
      val id = col("doc_id")
      val html = concat(
        lit("<html><head>"),
        when(id % 4 === 0,
          lit("<meta name=\"robots\" content=\"noindex, follow\">"))
          .otherwise(lit("")),
        when(id % 6 === 0,
          lit("<meta content=\"nofollow\" name=\"robots\">"))
          .otherwise(lit("")),
        when(id % 3 === 0,
          concat(lit("<link rel=\"canonical\" href=\"https://example.com/c"),
            (id % 7).cast("string"), lit("\">"))).otherwise(lit("")),
        when(id % 5 === 0,
          concat(lit("<link href=\"https://example.com/r"),
            (id % 7).cast("string"), lit("\" rel=\"canonical\">")))
          .otherwise(lit("")),
        lit("</head><body>x</body></html>"))
      t(s, dir, "documents")
        .select(id,
          TextOps.robotsMeta(html).as("rm"),
          TextOps.canonicalUrl(html).as("canonical"))
        .select(id, col("rm.noindex").as("noindex"),
          col("rm.nofollow").as("nofollow"), col("canonical"))
        .orderBy("doc_id")
    }),

    // sitemap <loc> extraction: two urls per synthesized sitemap, the
    // first padded with whitespace the extractor must trim
    "q214_sitemap_urls" -> ((s, dir) => {
      val xml = concat(
        lit("<urlset><url><loc>  https://example.com/p"),
        col("doc_id").cast("string"),
        lit(" </loc></url><url><loc>https://example.com/q"),
        (col("doc_id") % 5).cast("string"),
        lit("</loc></url></urlset>"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(graft.text.UrlOps.sitemapUrls(xml))
            .as(Seq("p", "url")))
        .select(col("doc_id"), (col("p") + 1).cast("int").as("url_no"),
          col("url"))
        .orderBy("doc_id", "url_no")
    }),

    // HTTP envelope gates over the WARC fixture: status + media type per
    // record (guarded extraction — malformed/absent envelopes are NULL,
    // never scan aborts)
    "q212_http_gates" -> ((s, _) => {
      graft.io.Warc.records(s, warcFixturePath)
        .select(col("record_id"),
          graft.io.Warc.httpStatus(col("content")).as("http_status"),
          graft.io.Warc.httpContentType(col("content"))
            .as("content_type"))
        .orderBy("record_id")
    }),

    // q86's A-ES sampling stratified per source: top-20 weighted docs
    // per stratum, same deterministic key, WindowGroupLimit plan shape
    "q211_weighted_sample_per_group" -> ((s, dir) => {
      TextOps.weightedSamplePerGroup(t(s, dir, "documents"),
          col("n_chars"), k = 20)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // native single-pass unigram entropy kernel vs relational SQL form
    "q87_token_entropy" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(TextOps.tokenEntropy(col("text")), 6).as("entropy"))
        .orderBy("doc_id")
    }),

    // CUSUM drift detection per event type (level shifts, not points)
    "q88_cusum" -> ((s, dir) => {
      Stats.cusum(t(s, dir, "events"), Seq("event_type"), "value",
          Seq(col("ts"), col("event_id")), threshold = 2000.0)
        .groupBy("event_type")
        .agg(sum("drift").as("n_drift"),
          round(max(abs(col("cusum"))), 4).as("max_abs_cusum"))
        .orderBy("event_type")
    }),

    // dataset-card per-source summary (corpus release statistics)
    "q90_dataset_card" -> ((s, dir) => {
      TextOps.datasetCard(t(s, dir, "documents"))
        .orderBy("source")
    }),

    // forward as-of: value of each view's NEXT purchase per user
    // (oracle: DuckDB ASOF on negated epoch micros)
    "q91_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "event_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value"))
      AsOf.asofForward(views, purchases, Seq("user_id"), "ts", "pts",
          Seq("value"))
        .select(col("event_id"), col("user_id"), col("asof_value"))
        .orderBy("event_id")
    }),

    // per-language sketch heavy hitters in the exact regime (q72's
    // grouped form — one fixed-size sketch per language)
    "q92_frequent_by_lang" -> ((s, dir) => {
      TextOps.frequentTokensByGroup(t(s, dir, "documents"), "lang",
          maxMapSize = 4096)
        .orderBy(col("lang"), col("estimate").desc, col("token"))
    }),

    // percent_rank window function over (type, value) — CDF position
    "q98_percent_rank" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          // null ordering pinned on BOTH sides: Spark defaults NULLS
          // FIRST where DuckDB defaults NULLS LAST — a nullable value
          // column would silently shift every rank
          round(percent_rank().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("event_type")
              .orderBy(col("value").asc_nulls_last, col("event_id"))), 6)
            .as("pr"))
        .orderBy("event_id")
    }),

    // pairwise Pearson r between hourly event-type counts, from exact
    // integer sufficient statistics (bit-stable across engines)
    "q99_hourly_corr" -> ((s, dir) => {
      Events.hourlyTypeCorrelation(t(s, dir, "events"))
        .orderBy("t_a", "t_b")
    }),

    // market-basket over 30-min sessions: sessions containing both types
    "q100_session_baskets" -> ((s, dir) => {
      Events.sessionBaskets(t(s, dir, "events"), gapSeconds = 1800)
        .orderBy("t_a", "t_b")
    }),

    // interval intersection via the same boundary sweep as q10's subtract
    // (kept segments are those covered by BOTH families); merged/disjoint
    // output, same per-user partitioning
    "q101_interval_intersect" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val base = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("start_time"),
          (col("ts") + expr("INTERVAL 60 MINUTES")).as("end_time"))
      val sub = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("start_time"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("end_time"))
      Intervals.intersectIntervals(base, sub, Seq("user_id"))
        .select("user_id", "start_time", "end_time")
        .orderBy("user_id", "start_time")
    }),

    // corpus-relative unigram NLL (KenLM-style typicality scoring)
    "q95_unigram_nll" -> ((s, dir) => {
      TextOps.unigramNll(t(s, dir, "documents"))
        .orderBy("doc_id")
    }),

    // bigram-transition NLL — the fluency upgrade over q95 (word salad
    // with plausible unigrams scores high on rare TRANSITIONS)
    "q109_bigram_nll" -> ((s, dir) => {
      TextOps.bigramNll(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("nll"), 6).as("nll"))
        .orderBy("doc_id")
    }),

    // HashingTF vectorization: portable md5 token buckets, tall counts
    "q110_feature_hashing" -> ((s, dir) => {
      TextOps.hashFeatures(t(s, dir, "documents"), numBuckets = 64)
        .orderBy("doc_id", "bucket")
    }),

    // vocabulary-overlap Jaccard between sources (corpus comparison)
    "q96_vocab_overlap" -> ((s, dir) => {
      TextOps.vocabOverlap(t(s, dir, "documents"))
        .orderBy("g_a", "g_b")
    }),

    // per-type z-score + min-max normalization; σ from explicit Σv/Σv²
    // so both engines compute the same arithmetic, rounded at the edge
    "q112_normalize" -> ((s, dir) => {
      Stats.normalizeByGroup(t(s, dir, "events"), Seq("event_type"),
          "value")
        .select(col("event_id"), col("event_type"),
          round(col("zscore"), 4).as("zscore"),
          round(col("minmax"), 6).as("minmax"))
        .orderBy("event_id")
    }),

    // token-budget corpus selection: quality-ranked prefix under a token
    // budget — bin-offset + per-bin windows, no global doc sort
    "q120_budget_select" -> ((s, dir) => {
      TextOps.selectUnderTokenBudget(t(s, dir, "documents"),
          budgetTokens = 12000L)
        .orderBy("doc_id")
    }),

    // per-source token quotas: each source fills its own budget with its
    // best docs (mixture-weighted selection); unlisted sources drop
    "q121_quota_select" -> ((s, dir) => {
      TextOps.selectUnderTokenBudgetByGroup(t(s, dir, "documents"),
          Map("src0" -> 700L, "src1" -> 400L, "src2" -> 1000L,
            "src3" -> 99999L))
        .orderBy("doc_id")
    }),

    // SCD2 dimension history: change log → type-2 validity intervals
    // (collapse consecutive repeats, valid_to = next change, NULL open);
    // state = floor(value/50) so the log actually has repeats to collapse
    "q118_scd2" -> ((s, dir) => {
      val log = t(s, dir, "events")
        .withColumn("state", floor(col("value") / 50).cast("long"))
      Windows.scd2(log, Seq("user_id", "event_type"), "ts", "state")
        .orderBy("user_id", "event_type", "valid_from")
    }),

    // point-in-time enrichment: purchases pick up the signup-state
    // version valid at their timestamp — SCD2 (q118) composed with the
    // backward as-of join (J4 machinery); versions tile time, so as-of
    // on valid_from ≡ interval membership, and the oracle cross-checks
    // that equivalence relationally
    "q119_pit_enrich" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val dim = Windows.scd2(
        ev.filter(col("event_type") === "signup")
          .withColumn("state", floor(col("value") / 50).cast("long")),
        Seq("user_id"), "ts", "state")
      val probes = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      AsOf.asofBackward(probes, dim, Seq("user_id"), "ts", "valid_from",
          Seq("state"))
        .select("event_id", "user_id", "asof_state")
        .orderBy("event_id")
    }),

    // per-group winsorization: clip into the [p05, p95] band — row-count
    // preserving outlier treatment; |groups|-row quantile broadcast
    "q116_winsorize" -> ((s, dir) => {
      Stats.winsorize(t(s, dir, "events"), Seq("event_type"), "value")
        .select(col("event_id"), col("event_type"),
          round(col("clipped"), 6).as("clipped"), col("was_clipped"))
        .orderBy("event_id")
    }),

    // pairwise two-sample KS distance between per-source length
    // distributions — exact CDFs from integer cumsums, unbinned
    "q107_ks_distance" -> ((s, dir) => {
      Stats.ksDistance(t(s, dir, "documents"), "source", "n_chars")
        .select(col("g_a"), col("g_b"), round(col("ks"), 6).as("ks"))
        .orderBy("g_a", "g_b")
    }),

    // Population Stability Index between two md5-split cohorts of value
    "q97_psi" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("coh",
        when(TextOps.hashBucket(col("event_id"), 2) === 0, "a")
          .otherwise("b"))
      Stats.psi(ev, "coh", "value", "a", "b", binWidth = 50.0)
    }),

    // per-label embedding centroids (class prototypes) — the IVF index
    // builder driven by a semantic label instead of a cluster id
    "q94_label_centroids" -> ((s, dir) => {
      Similarity.ivfIndex(t(s, dir, "embeddings"), "label")
        .select(col("cluster").as("label"),
          posexplode(col("centroid")).as(Seq("pos", "m")))
        .select(col("label"), col("pos"), round(col("m"), 6).as("m"))
        .orderBy("label", "pos")
    }),

    // hourly OHLC bars per user — aggregate-in-cell downsampling
    // (values are carried, not computed: exact across engines)
    "q93_ohlc_bars" -> ((s, dir) => {
      TimeOps.ohlcBars(t(s, dir, "events"), Seq("user_id"), "ts",
          "value", bucketSeconds = 3600L, tieCol = "event_id")
        .orderBy("user_id", "bucket_ts")
    }),

    // declarative data-quality expectations — one scan, |checks| rows out
    "q89_dq_report" -> ((s, dir) => {
      Quality.expectationsReport(t(s, dir, "events"),
        Seq(
          "value_not_null" -> col("value").isNotNull,
          "value_range" -> col("value").between(0.0, 1000.0),
          "known_type" -> col("event_type").isin("view", "click",
            "purchase", "signup", "error"),
          "value_le_300" -> (col("value") <= 300.0), // deliberately tight
          "ts_in_2024" -> (year(col("ts")) === 2024)),
        uniqueCols = Seq("event_id"))
        .orderBy("check")
    }),

    // salted equi-join must equal the plain join (unsalted oracle)
    "q84_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumnRenamed("l_orderkey", "o_orderkey")
      val ord = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"))
      Skew.saltedJoin(li, ord, Seq("o_orderkey"), col("l_linenumber"),
          buckets = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum("l_extendedprice"), 4).as("sum_price"))
        .orderBy("o_orderpriority")
    }),

    // reciprocal-rank fusion of two retrieval runs (two BM25 query
    // formulations sharing the rare 'dup' discriminator — the oracle can
    // replay both lexically; the lexical+vector hybrid is spec-gated
    // where the spec controls a shared id space). 1/(60+rank) terms are
    // correctly-rounded small-integer divisions summed in fixed run
    // order, so the score is bit-identical cross-engine UNROUNDED
    "q146_rrf_fusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // the two runs share one tokenize/tf/df/stats lineage — identical
      // per-run results to independent bm25TopK calls (see bm25TopKRuns)
      TextOps.rrfFuse(
        TextOps.bm25TopKRuns(docs, Seq(Bm25Terms, RrfTermsB), k = 20),
        rrfK = 60, topK = 25)
        .orderBy(col("rrf_score").desc, col("doc_id"))
    }),

    // dataset-versioning diff between two snapshots derived from the one
    // corpus: doc_id%10==3 absent from the old snapshot (added), %10==5
    // absent from the new (removed), %7==0 texts revised (changed)
    "q147_snapshot_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val prev = d.filter(col("doc_id") % 10 =!= 3)
      val cur = d.filter(col("doc_id") % 10 =!= 5)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
      Quality.snapshotDiff(prev, cur, "doc_id", Seq("text", "source"))
        .orderBy("doc_id")
    }),

    // fastText-shaped linear classifier inference over hashed token
    // counts: integer-valued weights ((bucket*7)%13 − 6) keep the dot
    // product exact integer arithmetic in doubles (order-independent),
    // so the UNROUNDED logit matches the oracle bit-for-bit; prob (the
    // sigmoid) is deliberately not emitted — exp() is the one
    // non-portable step cross-engine
    "q148_quality_classifier" -> ((s, dir) => {
      // driver-built LocalRelation (identical integers to the former
      // range(64) arithmetic): scoreLinearModel collects the model at
      // plan time, and a LocalRelation collect is job-free
      val weights = {
        import s.implicits._
        (0 until 64).map(b => (b, (b * 7 % 13 - 6).toDouble))
          .toDF("bucket", "weight")
      }
      TextOps.scoreLinearModel(t(s, dir, "documents"), weights,
          numBuckets = 64, bias = -3.0)
        .select("doc_id", "logit", "label")
        .orderBy("doc_id")
    }),

    // LDNOOBW-style blocklist exposure + gate verdict ('slow'/'big' play
    // the unsafe words in this corpus); fraction is the unrounded
    // exact-integer quotient per the cross-engine float-parity rule
    "q149_blocklist_gate" -> ((s, dir) => {
      TextOps.blocklistStats(t(s, dir, "documents"), Seq("slow", "big"))
        .select(col("doc_id"), col("n_tokens"), col("n_flagged"),
          col("flagged_fraction"),
          (col("flagged_fraction") <= 0.05).cast("int").as("kept"))
        .orderBy("doc_id")
    }),

    // outlink extraction over markup synthesized from the corpus (two
    // quote styles, case-insensitive HREF, a %3-conditional third link),
    // composed with registrable-domain tagging for absolute links — the
    // crawl-frontier step; the oracle re-derives every (link, domain)
    // row straight from the synthesis formulas, independent of the regex
    "q151_link_extract" -> ((s, dir) => {
      val html = concat(
        lit("<p>see <a href=\"https://www."), col("source"),
        lit(".example.com/d"), col("doc_id"), lit("\">x</a> and "),
        lit("<a href='/rel/p"), col("doc_id") % 7, lit("'>y</a>"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" <link HREF=\"https://cdn."), col("source"),
            lit(".co.uk/a.css\">"))).otherwise(lit("")),
        lit("</p>"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextOps.extractLinks(html)).as(Seq("pos", "link")))
        .select(col("doc_id"), (col("pos") + 1).as("link_no"),
          col("link"),
          when(col("link").rlike("^https?://"),
            UrlOps.registeredDomain(UrlOps.hostOf(col("link"))))
            .as("link_domain"))
        .orderBy("doc_id", "link_no")
    }),

    // one BPE-trainer statistic pass: corpus-wide adjacent character-
    // pair counts within words, top-40 (the argmax is the next merge)
    "q152_bpe_pairs" -> ((s, dir) => {
      TextOps.bpePairCounts(t(s, dir, "documents"), k = 40)
    }),

    // inverted-index build: term -> df + ascending capped posting list
    // (comma-joined string — portable, no array-repr pitfalls)
    "q153_inverted_index" -> ((s, dir) => {
      TextOps.invertedIndex(t(s, dir, "documents"), minDf = 2,
          maxPostings = 20)
        .orderBy("term")
    }),

    // license tagging over texts with synthesized license headers
    // (doc_id%5 picks the header class; %5==4 gets none) plus the
    // negative control over the raw corpus text (all 'unknown')
    "q150_license_detect" -> ((s, dir) => {
      val header = element_at(array(LicenseHeaders.map(lit): _*),
        (col("doc_id") % 5 + 1).cast("int"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.detectLicense(concat(header, col("text")))
            .as("license"),
          TextOps.detectLicense(col("text")).as("license_raw"))
        .orderBy("doc_id")
    }),

    // BPE ENCODING (the application half of q152's trainer statistic):
    // every corpus word through the fixed 8-merge list — a fold of
    // non-regex replaces the oracle replays verbatim
    "q154_bpe_encode" -> ((s, dir) => {
      val words = filter(TextOps.wsTokens(lower(col("text"))),
        w => length(w) > 0)
      t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), posexplode(words).as(Seq("pos", "word")))
        .select(col("doc_id"), (col("pos") + 1).as("word_no"),
          col("word"),
          TextOps.bpeEncodeWord(col("word"), BpeMerges).as("encoded"))
        .withColumn("n_subwords", size(split(col("encoded"), " ")))
        .orderBy("doc_id", "word_no")
    }),

    // PageRank (3 iterations, d=0.5, unnormalized teleport) over the
    // synthesized domain ring; every outdegree is a power of two and
    // the damping is dyadic, so all intermediates are exactly
    // representable and the doubles are bit-identical across engines
    // regardless of aggregation order
    "q155_domain_pagerank" -> ((s, dir) => {
      Graph.pageRank(domainEdges(t(s, dir, "documents")),
          iterations = 3, damping = 0.5)
        .select(col("node"), col("rank").as("pr"))
        .orderBy("node")
    }),

    // Naive Bayes trainer counts per (source, token) with the add-one
    // smoothed conditional — one exact-integer division (the log-space
    // form stays caller-side: ln is the non-portable step, q148's rule)
    "q156_nb_train" -> ((s, dir) => {
      TextOps.naiveBayesTrain(t(s, dir, "documents"), labelCol = "source")
        .orderBy("label", "token")
    }),

    // encoding-damage gate over a corpus with injected damage
    // (doc_id%4==0 gains two replacement chars, %4==1 a BEL control)
    "q157_mojibake" -> ((s, dir) => {
      val injected = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(col("text"), lit("\uFFFD\uFFFD")))
            .when(col("doc_id") % 4 === 1,
              concat(lit("\u0007"), col("text")))
            .otherwise(col("text")).as("text"))
      TextOps.mojibakeStats(injected).orderBy("doc_id")
    }),

    // in/out-degree report over the same synthesized domain graph —
    // the cheap link-graph statistics pass before anything iterative
    "q158_degree_stats" -> ((s, dir) => {
      Graph.degreeStats(domainEdges(t(s, dir, "documents")))
        .orderBy("node")
    }),

    // tokenizer-vocabulary coverage: OOV count/fraction per doc against
    // the stopword list as the (deliberately tiny) vocabulary
    "q159_oov_rate" -> ((s, dir) => {
      TextOps.oovStats(t(s, dir, "documents"), TextOps.EnStopwords)
        .orderBy("doc_id")
    }),

    // contamination REPORT (the measuring complement of q54's drop):
    // per test doc, distinct 8-gram shingles found in the train split
    "q160_contamination_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("split", TextOps.hashSplit(col("doc_id")))
      val train = docs.filter(col("split") === "train")
      val evalSet = docs.filter(col("split") === "test")
      TextOps.contaminationReport(train, evalSet, n = 8)
        .orderBy("doc_id")
    }),

    // sentence-granularity quality stats ([.!?]+ delimiters, whitespace
    // segments dropped, mean is an exact-integer quotient)
    "q161_sentence_stats" -> ((s, dir) => {
      TextOps.sentenceStats(t(s, dir, "documents")).orderBy("doc_id")
    }),

    // T5-style temperature-scaled source weights (alpha=0.5 → IEEE sqrt,
    // bit-portable; relative-to-max normalization is order-independent)
    "q162_temperature_mix" -> ((s, dir) => {
      TextOps.temperatureWeights(t(s, dir, "documents"))
        .orderBy("source")
    }),

    // bigram LM statistics: top-3 continuations per context word with
    // the exact-quotient conditional probability
    "q163_bigram_lm" -> ((s, dir) => {
      TextOps.bigramLm(t(s, dir, "documents"), k = 3)
        .orderBy("w1", "rank")
    }),

    // typographic normalization over text with injected smart quotes,
    // em dash, and NBSP (the oracle replays the identical fold chain)
    "q164_normalize_text" -> ((s, dir) => {
      val fancy = concat(lit("\u201C"), col("text"),
        lit("\u201D \u2014 end\u00A0here  ok"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.normalizeText(fancy).as("norm"))
        .orderBy("doc_id")
    }),

    // anchor-text pairs from synthesized markup (two anchors per doc,
    // mixed case and quote styles) — the anchor-relevance signal
    "q165_anchor_text" -> ((s, dir) => {
      val html = concat(
        lit("<p><a href=\"https://www."), col("source"),
        lit(".example.com/d"), col("doc_id"), lit("\">Doc "),
        col("doc_id"), lit("</a> and <A HREF='/rel/p"),
        col("doc_id") % 7, lit("'>rel link</A></p>"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextOps.extractAnchors(html)).as(Seq("pos", "pr")))
        .select(col("doc_id"), (col("pos") + 1).as("pair_no"),
          col("pr.link").as("link"), col("pr.anchor").as("anchor"))
        .orderBy("doc_id", "pair_no")
    }),

    // multi-crawl exact dedup, NEWEST capture wins (synthetic content
    // groups of ~4 docs across 5 crawl rounds; max-(order,id) keeper)
    "q166_dedup_latest" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("c"), col("doc_id") % 137).as("text"),
        (col("doc_id") % 5).as("crawl"))
      Dedup.exactKeepLatest(d, orderCol = "crawl")
        .orderBy("keep_id")
    }),

    // robots-rule politeness filter: broadcast (host, prefix) disallow
    // table, host-equi + path-prefix left_anti over synthesized URLs
    "q167_robots_filter" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"),
        col("source"),
        concat(lit("https://www."), col("source"),
          lit(".example.com/p"), col("doc_id") % 3, lit("/x")).as("url"))
      val rules = (Seq("src0", "src1", "src2", "src3", "src4")
        .map(x => (s"www.$x.example.com", "/p0")) :+
        ("www.src0.example.com", "/p1")).toDF("host", "prefix")
      UrlOps.dropDisallowed(docs, rules).orderBy("doc_id")
    }),

    // C4-style line filter over synthesized multi-line docs: every doc
    // gains a short line (dropped), a clean sentence (kept), and — for
    // doc_id%7==0 — a brace line that drops the whole doc
    "q168_c4_rules" -> ((s, dir) => {
      val lined = concat(col("text"),
        lit("\nshort line"),
        lit("\nThis synthesized line is long enough to keep."),
        when(col("doc_id") % 7 === 0, lit("\ncode = {"))
          .otherwise(lit("\nAnother clean sentence ends here.")))
      TextOps.c4LineFilter(
        t(s, dir, "documents").select(col("doc_id"), lined.as("text")))
        .orderBy("doc_id")
    }),

    // corpus-wide exact paragraph dedup: unique body + footer shared by
    // doc_id%5 class; doc_id%10==9 bodies are a fully-shared paragraph,
    // so later such docs keep ZERO paragraphs (empty-rewrite path)
    "q169_paragraph_dedup" -> ((s, dir) => {
      val body = when(col("doc_id") % 10 === 9,
        lit("Fully duplicated paragraph."))
        .otherwise(col("text"))
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(body, lit("\n\nShared footer number "),
          (col("doc_id") % 5).cast("string")).as("text"))
      Dedup.paragraphDedup(d).orderBy("doc_id")
    }),

    // CCNet-style head/middle/tail perplexity thirds per source under
    // the q95 corpus unigram LM (deterministic ntile: nll then doc_id)
    "q170_ppl_buckets" -> ((s, dir) =>
      TextOps.pplBuckets(t(s, dir, "documents")).orderBy("doc_id")),

    // KMV distinct sketch per source: the 16th-smallest md5(token)
    // yields the (k-1)/h_(k) estimate — engine-portable, bit-exact
    "q171_kmv_distinct" -> ((s, dir) =>
      TextOps.kmvDistinct(t(s, dir, "documents"), k = 16)
        .orderBy("source")),

    // exact-proportion 80/10/10 stratified split per source (md5-ordered
    // permutation, integer boundary math)
    "q172_stratified_split" -> ((s, dir) =>
      TextOps.stratifiedSplit(t(s, dir, "documents")).orderBy("doc_id")),

    // tokenizer-fertility report per source: subwords/word and
    // chars/subword from exact integer sums
    "q173_token_fertility" -> ((s, dir) =>
      TextOps.tokenFertility(t(s, dir, "documents")).orderBy("source"))
    ,

    // ADC serving over q106's PQ codes: the query-to-codebook LUT is
    // driver-built (m·k doubles), each vector costs m table reads,
    // top-10 by (adc, id) — both sums fixed-order, bit-portable
    "q174_pq_adc_topk" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.pqAdcTopK(embs, queryVec(embs), topK = 10)
    }),

    // distributed logistic-regression TRAINING (hard-sigmoid surrogate,
    // dyadic lr, residuals on the 2^-12 grid — every intermediate is an
    // exact dyadic rational, so the trained weights hash bit-identically
    // against the 3-iteration unrolled-CTE oracle)
    "q217_logistic_train" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("label",
        (TextOps.tokenCount(coalesce(col("text"), lit(""))) >= 25)
          .cast("int"))
      TextOps.logisticTrain(d, "label", numBuckets = 64, iters = 3,
        lrShift = 20).orderBy("bucket")
    }),

    // the FineWeb-Edu deploy loop end-to-end: train (q217) -> score
    // (q148's inference) -> threshold sweep (q175's calibration), all
    // on exact dyadic logits so the confusion counts are portable
    "q218_trained_sweep" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("label",
        (TextOps.tokenCount(coalesce(col("text"), lit(""))) >= 25)
          .cast("int"))
      val model = TextOps.logisticTrain(d, "label", numBuckets = 64,
        iters = 3, lrShift = 20)
      val scored = TextOps.scoreLinearModel(t(s, dir, "documents"),
        model, numBuckets = 64)
      val labeled = scored.join(
        d.select(col("doc_id"), col("label").cast("long").as("ref")),
        "doc_id")
      TextOps.thresholdSweep(labeled,
        Seq(-0.5, -0.25, -0.125, 0.0, 0.125, 0.25, 0.5),
        labelCol = "ref", scoreCol = "logit")
        .orderBy("threshold")
    }),

    // calibration sweep for q148's classifier against the ≥25-token
    // weak label: confusion counts + precision/recall per threshold
    "q175_threshold_sweep" -> ((s, dir) => {
      // driver-built LocalRelation (identical integers to the former
      // range(64) arithmetic): scoreLinearModel collects the model at
      // plan time, and a LocalRelation collect is job-free
      val weights = {
        import s.implicits._
        (0 until 64).map(b => (b, (b * 7 % 13 - 6).toDouble))
          .toDF("bucket", "weight")
      }
      val scored = TextOps.scoreLinearModel(t(s, dir, "documents"),
        weights, numBuckets = 64, bias = -3.0)
      val labeled = scored.join(
        t(s, dir, "documents").select(col("doc_id"),
          (TextOps.tokenCount(coalesce(col("text"), lit(""))) >= 25)
            .cast("long").as("ref")), "doc_id")
      TextOps.thresholdSweep(labeled,
        Seq(-5.0, -3.0, -1.0, 0.0, 1.0, 3.0, 5.0),
        labelCol = "ref", scoreCol = "logit")
        .orderBy("threshold")
    }),

    // Jelinek-Mercer interpolated bigram/unigram NLL (λ=0.5)
    "q176_interpolated_nll" -> ((s, dir) =>
      TextOps.interpolatedNll(t(s, dir, "documents")).orderBy("doc_id")),

    // interpolated Kneser-Ney bigram NLL (d=0.75) — the KenLM smoothing
    // CCNet-style perplexity filters actually use; backoff mass goes to
    // the CONTINUATION distribution, not raw unigram frequency
    "q219_kneser_ney_nll" -> ((s, dir) =>
      TextOps.kneserNeyNll(t(s, dir, "documents")).orderBy("doc_id")),

    // CCNet head/middle/tail thirds per source, scored by the KN LM —
    // the scorer-swapped form of the unigram pplBuckets
    "q223_kn_ppl_buckets" -> ((s, dir) =>
      TextOps.pplBuckets(t(s, dir, "documents"),
        scorer = TextOps.kneserNeyNll(_, _, _)).orderBy("doc_id")),

    // RFC 9309 robots gate end-to-end: relational group parse (agent
    // scoping, wildcard/$ compile) + longest-match decision join, over
    // synthesized per-source robots bodies (graftbot group on even
    // sources, '*'-only on odd) and path-varied urls; the oracle
    // re-derives every decision from the synthesis in closed form
    "q222_robots_gate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val robots = d.select(col("source")).distinct()
        .select(concat(lit("www."), col("source"), lit(".example.com"))
            .as("host"),
          when(regexp_extract(col("source"), "(\\d+)$", 1).cast("int")
              % 2 === 0,
            "User-agent: graftbot\nDisallow: /private/\n" +
              "Allow: /private/ok*\nDisallow: /cal*$\n\n" +
              "User-agent: *\nDisallow: /")
            .otherwise("User-agent: *\nDisallow: /p*").as("body"))
      val urls = d.select(col("doc_id"),
        concat(lit("https://www."), col("source"), lit(".example.com"),
          when(col("doc_id") % 5 === 0,
            concat(lit("/public/p"), col("doc_id")))
            .when(col("doc_id") % 5 === 1,
              concat(lit("/private/p"), col("doc_id")))
            .when(col("doc_id") % 5 === 2,
              concat(lit("/private/ok"), col("doc_id")))
            .when(col("doc_id") % 5 === 3,
              concat(lit("/cal"), col("doc_id")))
            .otherwise(concat(lit("/x"), col("doc_id")))).as("url"))
      val rules = UrlOps.robotsAgentRules(robots, "graftbot")
      UrlOps.robotsDecisions(urls, rules)
        .select("doc_id", "allowed", "rule")
        .orderBy("doc_id")
    }),

    // temperature mixing (τ=0.5) over the skewed lang strata: derived
    // shares p^τ/Σp^τ (sqrt chain + fixed-order fold — bit-portable),
    // ppm rates for a 300-doc target, md5-gated deterministic sample
    "q221_temperature_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val rates = TextOps.temperatureRates(d, targetTotal = 300,
        tau = 0.5, stratumCol = "lang")
      TextOps.mixtureSample(d, rates, stratumCol = "lang")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // DoReMi-style domain reweighting: per-source excess loss in closed
    // form (unigram KL(domain ‖ corpus)), one EG step in the linear
    // regime (η=1, exp-free — the q148 exp() rule), token-sorted folds
    // for both the KL sums and the normalizer so every float replays
    "q224_domain_reweight" -> ((s, dir) =>
      TextOps.domainReweight(t(s, dir, "documents"), eta = 1.0)
        .orderBy("domain")),

    // GPT-style block layout: per-shard token stream (docs + EOS in the
    // salted resumable order), fixed 512-token blocks, one row per
    // (block, doc SEGMENT) — straddling docs span blocks; pure integer
    // arithmetic end-to-end
    "q225_block_segments" -> ((s, dir) =>
      TextOps.blockSegments(t(s, dir, "documents"), blockTokens = 512,
        nShards = 4).orderBy("shard", "block_id", "block_pos")),

    // FIM pretraining transform (PSM order) at a 50% md5-gated rate:
    // two md5-derived character cuts → <|fim_prefix|>P<|fim_suffix|>S
    // <|fim_middle|>M; skipped docs pass through verbatim
    "q226_fim_transform" -> ((s, dir) =>
      TextOps.fimTransform(t(s, dir, "documents"), ratePct = 50)
        .orderBy("doc_id")),

    // Matryoshka adaptive retrieval: 16-dim prefix shortlist of 50,
    // full-64-dim rerank to top-10; unrounded cosine (identical
    // sequential dot chains both engines)
    "q227_matryoshka_topk" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.matryoshkaTopK(embs, typedlit(queryVec(embs)), k = 10,
        shortlist = 50, prefixDim = 16)
    }),

    // DPO preference-pair audit over synthesized pairs: %15 docs are
    // degenerate (chosen ≡ rejected), %10==1 docs flip their NEIGHBOR's
    // pair under the neighbor's prompt (a planted contradiction), %50
    // prompt groups give real dup counts; digests-only joins
    "q228_preference_audit" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      val nxt = docs.select((col("doc_id") + 1).as("doc_id"),
        col("text").as("ntext"))
      val degen = col("doc_id") % 15 === 0
      val flip = !degen && col("doc_id") % 10 === 1 &&
        col("ntext").isNotNull
      val pairs = docs.join(nxt, Seq("doc_id"), "left")
        .select(col("doc_id").as("pair_id"),
          when(flip, concat(lit("p"),
              ((col("doc_id") - 1) % 50).cast("string")))
            .otherwise(concat(lit("p"), (col("doc_id") % 50)
              .cast("string"))).as("prompt"),
          when(flip, concat(lit("b: "), col("ntext")))
            .otherwise(concat(lit("a: "), col("text"))).as("chosen"),
          when(degen, concat(lit("a: "), col("text")))
            .when(flip, concat(lit("a: "), col("ntext")))
            .otherwise(concat(lit("b: "), col("text"))).as("rejected"))
      ops.Chat.preferenceAudit(pairs).orderBy("pair_id")
    }),

    // SFT loss-mask manifest: per (conversation, turn), the character
    // span the turn's content occupies in the rendered string and the
    // train verdict (assistant content only) — pure integer offsets
    "q229_loss_mask_spans" -> ((s, dir) =>
      ops.Chat.lossMaskSpans(
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), chatTurnsOf.as("turns")))
        .orderBy("doc_id", "turn")),

    // best-of-N DPO-pair construction: 5 samples per prompt, exact
    // integer-derived scores (ties exercised at %101 collisions, %13
    // docs unscored), opposed tie rules keep chosen ≠ rejected
    "q230_best_of_n" -> ((s, dir) => {
      val samples = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(expr("doc_id div 5").as("prompt_id"),
          col("doc_id").as("sample_id"), col("text").as("sample"),
          when(col("doc_id") % 13 === 0, lit(null))
            .otherwise(((col("doc_id") * 31) % 101).cast("double"))
            .as("score"))
      ops.Chat.bestOfN(samples).orderBy("prompt_id")
    }),

    // E8 SFT path end-to-end: q205's cloned-conversation synthesis →
    // structure gates → digest dedup → rendered training strings
    "q231_curate_chat" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val nxt = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("ntext"))
      val convs = docs.join(nxt, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 6 === 0 && col("ntext").isNotNull,
            col("ntext")).otherwise(col("text")).as("text"))
        .filter(col("text").isNotNull)
        .select(col("doc_id"), chatTurnsOf.as("turns"))
      graft.pipeline.Pipelines.curateChat(convs).sft.orderBy("doc_id")
    }),

    // hard-negative mining: per anchor, top-3 most-similar WRONG-label
    // vectors from the 6-plane LSH buckets (wrong-label predicate
    // applied before the rank, so same-label twins can't crowd the k)
    "q232_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(t(s, dir, "embeddings"), k = 3,
        planes = 6).orderBy("anchor_id", "rank")),

    // dependency-depth leveling over a synthesized 3-level module DAG
    // (%7 roots, residue-1 mids, residues 4-6 depend on both) plus a
    // planted 2-cycle that must flag unstable — 4 fixed rounds of
    // level = 1 + max(level(deps)), all integers
    "q233_topo_levels" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select(col("doc_id"))
      val e1 = d.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id").as("src"),
          (col("doc_id") - col("doc_id") % 7).as("dst"))
      val e2 = d.filter(col("doc_id") % 7 >= 4)
        .select(col("doc_id").as("src"),
          (col("doc_id") - col("doc_id") % 7 + 1).as("dst"))
      val cyc = Seq((-1L, -2L), (-2L, -1L)).toDF("src", "dst")
      Graph.topoLevels(e1.union(e2).union(cyc), iterations = 4)
        .orderBy("node")
    }),

    // In-Context-Pretraining block layout: same stream/cut machinery as
    // q225 but ordered (lang, id) within each shard — related documents
    // adjacent, so one context window holds same-topic material
    "q234_icp_blocks" -> ((s, dir) =>
      TextOps.blockSegments(t(s, dir, "documents"), blockTokens = 512,
        nShards = 4, orderCol = Some("lang"))
        .orderBy("shard", "block_id", "block_pos")),

    // SentencePiece-style unigram segmentation: substring seed vocab
    // (full char coverage + top-200 multis) + 12-round Viterbi DP over
    // the distinct-word table — the likelihood tokenizer next to BPE
    "q235_unigram_segment" -> ((s, dir) => {
      val words = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(explode(TextOps.wsTokens(lower(col("text")))).as("word"))
        .filter(length(col("word")) > 0)
      val vocab = TextOps.substringVocab(words)
      TextOps.unigramSegment(words, vocab, maxLen = 12).orderBy("word")
    }),

    // unigram EM round: q235's segmentations recounted by word
    // frequency, add-one re-estimation — the SentencePiece M-step
    "q236_unigram_em" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val words = d.filter(col("text").isNotNull)
        .select(explode(TextOps.wsTokens(lower(col("text")))).as("word"))
        .filter(length(col("word")) > 0)
      TextOps.unigramEmRound(d, TextOps.substringVocab(words))
        .orderBy("piece")
    }),

    // distinct-2 diversity per source: cross-document distinct-n-gram
    // ratio (Li et al. distinct-n) — the templated-source gauge
    "q237_ngram_diversity" -> ((s, dir) =>
      TextOps.ngramDiversity(t(s, dir, "documents"), n = 2)
        .orderBy("source")),

    // data-constrained epoch water-filling: per-source token counts,
    // md5-derived quality caps (1-4 epochs), budget = 1.5× the corpus —
    // exact level search, one IEEE division, unrounded epochs
    "q238_epoch_allocation" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val srcs = d.groupBy("source")
        .agg(sum(size(filter(TextOps.wsTokens(lower(col("text"))),
          w => length(w) > 0)).cast("long")).as("n_tokens"))
        .withColumn("epoch_cap",
          (lit(1) + TextOps.hashBucket(col("source"), 4)).cast("double"))
      val budget = math.floor(1.5 *
        srcs.agg(sum("n_tokens")).head().getLong(0)).toLong
      TextOps.epochAllocation(srcs, budget).orderBy("source")
    }),

    // t-closeness privacy audit: ordered-metric EMD of each (source,
    // length-bin) group's doc_id%7 distribution vs the corpus-wide one
    // (same quasi-groups and sensitive surrogate as q189); t = 3/20,
    // every flag decided by integer cross-multiplication
    "q239_t_closeness" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("bin", expr("CAST(n_chars div 10 AS BIGINT)"))
        .withColumn("sens", col("doc_id") % 7)
      graft.ops.Quality.tCloseness(d, Seq("source", "bin"), "sens")
        .orderBy("source", "bin")
    }),

    // Self-Instruct ROUGE-1 pool gate: candidate batch (doc_id%101==7,
    // pool-disjoint) vs the accumulated pool (doc_id%5==0); keep when
    // max multiset-unigram F1 < 0.7, every flag integer-exact
    "q240_rouge_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pool = docs.filter(col("doc_id") % 5 === 0)
      val cand = docs.filter(col("doc_id") % 101 === 7 &&
        col("doc_id") % 5 =!= 0)
      Dedup.rougeOneGate(pool, cand).orderBy("cand_id")
    }),

    // Bloom-filter seen-URL gate over the packed-bitset production path
    // (m=65536, k=3, md5 positions): seen = doc_id%3==0 urls; audit mode
    // exposes the deterministic false positives next to the exact join
    "q241_bloom_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def urls(d: DataFrame) = d.select(concat(lit("https://www."),
        col("source"), lit(".example.com/p"),
        (col("doc_id") % 997).cast("string")).as("url"))
      Dedup.bloomGate(urls(docs), urls(docs.filter(col("doc_id") % 3 === 0)),
        "url", mBits = 65536, kHashes = 3, packed = true,
        withExact = true).orderBy("url")
    }),

    // Heaps-law vocabulary-growth fit per source: power-of-two doc-rank
    // checkpoints, exact prefix-distinct via first-occurrence ranks,
    // sorted-fold OLS on (ln tokens, ln types)
    "q242_heaps_fit" -> ((s, dir) =>
      TextOps.heapsLawFit(t(s, dir, "documents")).orderBy("source")),

    // cluster-balanced selection: nearest-seed assignment + top-10 per
    // cluster by the md5-derived quality score (integer rank keys; the
    // WindowGroupLimit pre-cap path)
    "q243_cluster_quota" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.clusterQuotaSelect(embs, seedCentroids(embs),
          quota = 10, score = TextOps.hashBucket(col("vec_id"), 1000))
        .orderBy("cluster", "rk")
    }),

    // HITS hubs/authorities over the q155 domain graph: 2 exact-integer
    // rounds, fractions of the round maxima as the only divisions
    "q244_hits" -> ((s, dir) =>
      Graph.hitsScores(domainEdges(t(s, dir, "documents")), iterations = 2)
        .orderBy("node")),

    // max-NLL span localization: the 8-token window a cleaning pass
    // would cut, per doc; dyadic-grid NLLs make window sums exact
    "q245_nll_spans" -> ((s, dir) =>
      TextOps.nllSpans(t(s, dir, "documents"), window = 8)
        .orderBy("doc_id")),

    // staged dedup cascade with attribution: exact digest → normalized
    // digest → SimHash near-dup, each over the prior stage's survivors;
    // every doc reports its catching stage and canonical partner
    "q246_dedup_cascade" -> ((s, dir) =>
      Dedup.dedupCascade(t(s, dir, "documents")).orderBy("doc_id")),

    // max-seq-len configuration sweep: truncation/padding/utilization
    // per candidate length, exact integers + one division per row
    "q247_seqlen_sweep" -> ((s, dir) =>
      TextOps.seqLenSweep(t(s, dir, "documents")).orderBy("seq_len")),

    // DPO verbosity-bias audit over the q230 best-of-N pairs: sign-test
    // counts + mean length delta; the flag is integer cross-multiplied
    "q248_length_bias" -> ((s, dir) => {
      val samples = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(expr("doc_id div 5").as("prompt_id"),
          col("doc_id").as("sample_id"), col("text").as("sample"),
          when(col("doc_id") % 13 === 0, lit(null))
            .otherwise(((col("doc_id") * 31) % 101).cast("double"))
            .as("score"))
      ops.Chat.lengthBiasAudit(ops.Chat.bestOfN(samples))
    }),

    // Bradley-Terry arena ratings over synthesized matches (a = source,
    // b = the (doc_id*7+3)%20 source — never equal to a, since source IS
    // src(doc_id%20) and 6d+3 is odd mod 20; winner by parity of
    // (doc_id*31)%101): 2 unrolled MM rounds, opponent-ordered folds
    "q249_bradley_terry" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val b = concat(lit("src"), ((col("doc_id") * 7 + 3) % 20).cast("string"))
      ops.Chat.bradleyTerry(d.select(col("source").as("model_a"),
          b.as("model_b"),
          when(((col("doc_id") * 31) % 101) % 2 === 0, col("source"))
            .otherwise(b).as("winner")))
        .orderBy("model")
    }),

    // Cohen's kappa per source over two deterministic "annotators":
    // length-class labels where B shifts %7 docs by +15 chars — chance-
    // corrected agreement, exact-integer marginals, unrounded quotients
    "q250_cohen_kappa" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("source").isNotNull && col("n_chars").isNotNull)
        .withColumn("ann_a", expr("least(n_chars div 40, 2L)"))
        .withColumn("ann_b", expr(
          "least((n_chars + CASE WHEN doc_id % 7 = 0 THEN 15 ELSE 0 END)" +
            " div 40, 2L)"))
      graft.ops.Quality.cohenKappa(d, "ann_a", "ann_b", Seq("source"))
        .orderBy("source")
    }),

    // MBR consensus selection over the q230 5-samples-per-prompt groups
    // (score-free: the candidate maximizing summed unigram F1 against
    // its siblings wins; opponent-ordered folds, one division per pair)
    "q251_mbr_select" -> ((s, dir) =>
      ops.Chat.mbrSelect(t(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(expr("doc_id div 5").as("prompt_id"),
            col("doc_id").as("sample_id"), col("text").as("sample")))
        .orderBy("prompt_id", "sample_id")),

    // prefix-cache sizing over synthesized traffic: 2/3 of prompts wear
    // a shared per-source system template (20 giant groups), 1/3 are
    // ad-hoc raw texts (singletons) — per-prefix savings table
    "q252_prefix_cache" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val prompt = when(col("doc_id") % 3 === 0, col("text"))
        .otherwise(concat(
          lit("you are a helpful assistant for "), col("source"),
          lit(" answer briefly and cite sources then "), col("text")))
      TextOps.prefixCacheStats(d.select(col("doc_id"), prompt.as("text")))
        .orderBy("prefix_digest")
    }),

    // isotonic (PAV) calibration fit over synthesized scores: prob =
    // (37·id)%100 / 100, label correlated via a second residue — the
    // exact minimax form, every segment mean one integer-sum division
    "q253_isotonic_fit" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val raw = (col("doc_id") * 37) % 100
      TextOps.isotonicCalibration(d.select(
          (raw.cast("double") / lit(100.0)).as("prob"),
          when((col("doc_id") * 53) % 100 < raw, 1L).otherwise(0L)
            .as("label")))
        .orderBy("bin")
    }),

    // leave-one-out source attribution: eval = the %11 doc slice, train
    // = the rest; per source, add-one LOO unigram NLL minus the full-
    // corpus baseline — dyadic-grid lns, exact weighted sums
    "q254_loo_attribution" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextOps.looAttribution(d.filter(col("doc_id") % 11 =!= 0),
          d.filter(col("doc_id") % 11 === 0))
        .orderBy("source")
    }),

    // bitext margin mining across the label-parity pools: 4-plane
    // buckets, k=4 cross-pool kNN averages, best-margin pair per anchor
    // with the mutual-best flag — the LASER/CCMatrix criterion
    "q255_bitext_margin" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bitextMine(e.filter(col("label") % 2 === 0),
          e.filter(col("label") % 2 === 1), k = 4, planes = 4)
        .orderBy("a_id")
    }),

    // retrieval eval (the trec_eval triple) over a synthesized run
    // (md5-ordered top-10 per query) and graded qrels (residue-derived
    // rel 0/1/2): Recall@10, MRR@10, nDCG@10 with literal discounts
    "q256_retrieval_eval" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val w = Window.partitionBy("query_id")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val run = d.select((col("doc_id") % 23).as("query_id"), col("doc_id"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
      val qrels = d.select((col("doc_id") % 23).as("query_id"),
        col("doc_id"),
        when((col("doc_id") * 31) % 101 < 10, 2)
          .when((col("doc_id") * 31) % 101 < 30, 1).otherwise(0).as("rel"))
      TextOps.retrievalEval(run, qrels, k = 10).orderBy("query_id")
    }),

    // confident-learning label audit: q253's prob/label synthesis with
    // %17 labels flipped as planted noise — class thresholds from
    // grid-snapped means, off-diagonal joint counts = the review queue
    "q257_confident_learning" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val raw = (col("doc_id") * 37) % 100
      val clean = when((col("doc_id") * 53) % 100 < raw, 1).otherwise(0)
      TextOps.confidentLearning(d.select(
          (raw.cast("double") / lit(100.0)).as("prob"),
          when(col("doc_id") % 17 === 0, lit(1) - clean).otherwise(clean)
            .as("label")))
        .orderBy("noisy_label", "est_true")
    }),

    // Fleiss' kappa over a synthesized 3-rater panel (per-rater +25
    // char shift on (id+rater)%5 rows); %31 items lose rater 2 and are
    // dropped as partial panels — one summary row
    "q258_fleiss_kappa" -> ((s, dir) => {
      val rated = t(s, dir, "documents")
        .filter(col("n_chars").isNotNull)
        .select(col("doc_id"), col("n_chars"),
          explode(sequence(lit(0), lit(2))).as("rater"))
        .filter(!(col("doc_id") % 31 === 0 && col("rater") === 2))
        .withColumn("lab", expr(
          "least((n_chars + CASE WHEN (doc_id + rater) % 5 = 0 THEN 25" +
            " ELSE 0 END) div 40, 2L)"))
      graft.ops.Quality.fleissKappa(rated, "doc_id", "rater", "lab", m = 3)
    }),

    // deleted-interpolation EM round: λ'=E[bigram share] on the %11
    // held-out slice under the train-slice MLE models — the λ tuner
    // for q110's interpolated scorer; grid-snapped responsibilities
    "q259_deleted_interp" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextOps.deletedInterpolationRound(
        d.filter(col("doc_id") % 11 =!= 0),
        d.filter(col("doc_id") % 11 === 0))
    }),

    // Wilson-bound win rates over the q249 match synthesis — the
    // leaderboard row with the small-sample-honest interval
    "q260_wilson_winrate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val b = concat(lit("src"), ((col("doc_id") * 7 + 3) % 20).cast("string"))
      ops.Chat.winRateWilson(d.select(col("source").as("model_a"),
          b.as("model_b"),
          when(((col("doc_id") * 31) % 101) % 2 === 0, col("source"))
            .otherwise(b).as("winner")))
        .orderBy("model")
    }),

    // pass@k over 10-sample problems (%101-residue pass verdicts):
    // the unbiased HumanEval estimator in exact product form
    "q261_pass_at_k" -> ((s, dir) =>
      ops.Chat.passAtK(t(s, dir, "documents").select(
          expr("doc_id div 10").as("prompt_id"),
          when((col("doc_id") * 31) % 101 < 25, 1).otherwise(0)
            .as("passed")), ks = Seq(1, 5))
        .orderBy("prompt_id")),

    // chrF over synthesized rewrite pairs (ref = doc, hyp = next doc;
    // %7 pairs are self-pairs scoring exactly 1): char n-gram F2 with
    // n-ordered level means
    "q262_chrf" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val nxt = d.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("ntext"))
      TextOps.chrF(d.join(nxt, Seq("doc_id"))
          .select(col("doc_id").as("pair_id"), col("text").as("ref"),
            when(col("doc_id") % 7 === 0, col("text"))
              .otherwise(col("ntext")).as("hyp")))
        .orderBy("pair_id")
    }),

    // two-pool divergence over shared centroids (label-parity pools):
    // smoothed cluster histograms, grid-snapped per-cluster KL terms,
    // Jeffreys total — the embedding-drift gauge
    "q263_pool_divergence" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.poolDivergence(e.filter(col("label") % 2 === 0),
          e.filter(col("label") % 2 === 1), seedCentroids(e))
        .orderBy("cluster")
    }),

    // IFEval-style verifiable-instruction checks: residue-derived word
    // floors, a keyword lifted from the response's own prefix (present
    // unless too short), a never-present forbidden token, %3 rows must
    // end with a period — machine-checkable verdicts, no judge
    "q264_instruction_checks" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      ops.Chat.instructionChecks(d.select(col("doc_id").as("pair_id"),
          col("text").as("response"),
          (lit(5) + col("doc_id") % 20).cast("long").as("min_words"),
          when(length(col("text")) >= 6,
            substring(lower(col("text")), 3, 4)).as("keyword"),
          lit("zzqq").as("forbidden"),
          when(col("doc_id") % 3 === 0, lit(".")).as("must_end_with")))
        .orderBy("pair_id")
    }),

    // extractive-fragment coverage/density over synthesized summaries:
    // %3=0 verbatim windows, %3=1 fully abstractive, %3=2 half-lifted —
    // the Newsroom diagnostic in its relational per-position form
    "q265_extractive_fragments" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val toks = filter(TextOps.wsTokens(lower(col("text"))),
        w => length(w) > 0)
      val summary = when(col("doc_id") % 3 === 0,
          concat_ws(" ", slice(toks, 3, 10)))
        .when(col("doc_id") % 3 === 1,
          concat_ws(" ", lit("summary"), lit("of"), col("source")))
        .otherwise(concat(concat_ws(" ", slice(toks, 1, 4)),
          lit(" entirely novel trailing commentary")))
      TextOps.extractiveFragments(d.select(col("doc_id").as("pair_id"),
          col("text").as("article"), summary.as("summary")))
        .orderBy("pair_id")
    }),

    // self-consistency majority vote over 5-sample prompts: answers
    // collide on a coarse residue (so real majorities form), %13
    // samples abstain (NULL counts, never wins)
    "q266_self_consistency" -> ((s, dir) =>
      ops.Chat.selfConsistency(t(s, dir, "documents").select(
          expr("doc_id div 5").as("prompt_id"),
          when(col("doc_id") % 13 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("Answer "),
              (((col("doc_id") * 31) % 101) % 3).cast("string")))
            .as("answer")))
        .orderBy("prompt_id")),

    // structured-output QA over synthesized JSON-mode responses: %4
    // residues give valid objects, truncated JSON, prose, and numeric
    // fields — per-source extraction rates for '$.answer'
    "q267_structured_output" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val resp = when(col("doc_id") % 4 === 0,
          concat(lit("{\"answer\": \"a"), (col("doc_id") % 7).cast("string"),
            lit("\", \"confidence\": "), (col("doc_id") % 100).cast("string"),
            lit("}")))
        .when(col("doc_id") % 4 === 1, lit("{\"answer\": \"a\""))
        .when(col("doc_id") % 4 === 2, col("text"))
        .otherwise(lit("{\"answer\": 42}"))
      TextOps.structuredOutputRate(
          d.select(col("source"), resp.as("text")))
        .orderBy("source")
    }),

    // the published arena table: BT ratings + Wilson intervals joined,
    // ranked by rating — q249 and q260 composed end-to-end
    "q268_arena_leaderboard" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val b = concat(lit("src"), ((col("doc_id") * 7 + 3) % 20).cast("string"))
      ops.Chat.arenaLeaderboard(d.select(col("source").as("model_a"),
          b.as("model_b"),
          when(((col("doc_id") * 31) % 101) % 2 === 0, col("source"))
            .otherwise(b).as("winner")))
        .orderBy("arena_rank")
    }),

    // fetcher-shard plan over synthesized per-source hosts: md5 shard
    // assignment + per-shard load (hosts, urls, largest host)
    "q177_host_shard_plan" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://www."), col("source"),
          lit(".example.com/p"), (col("doc_id") % 17).cast("string"))
          .as("url"))
      UrlOps.hostShardPlan(urls, nShards = 4).orderBy("shard")
    }),

    // embedding-corpus QA audit per label: exact min/max L2 norms from
    // fixed-order folds (bit-portable unrounded), zero/bad-dim counts
    "q178_embedding_audit" -> ((s, dir) =>
      Similarity.embeddingAudit(t(s, dir, "embeddings"))
        .orderBy("label")),

    // IVF+PQ composition (FAISS IVFPQ serving shape): probe the 3
    // nearest label-clusters, rank only that slice by ADC
    "q179_ivf_pq_topk" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(embs, queryVec(embs), topK = 10,
        clusterCol = "label", nProbe = 3)
    }),

    // dedup impact report per source: exact/normalized distinct digests
    // + unrounded duplicate-rate quotients
    "q180_dedup_audit" -> ((s, dir) =>
      Dedup.dedupAudit(t(s, dir, "documents")).orderBy("source")),

    // T5 span corruption: deterministic md5 masking, numbered sentinels,
    // (input, target) pair per doc
    "q181_span_corruption" -> ((s, dir) =>
      TextOps.spanCorruption(t(s, dir, "documents")).orderBy("doc_id"))
    ,

    // LSH S-curve tuning table: 1-(1-s^r)^b over all 64-hash bandings —
    // every power a multiplication chain, bit-portable
    "q182_lsh_curve" -> ((s, dir) =>
      Dedup.lshTuningCurve(s, numHashes = 64).orderBy("r", "s")),

    // PII exposure audit over injected email/phone/card markers
    "q183_pii_report" -> ((s, dir) => {
      val injected = t(s, dir, "documents").select(col("doc_id"),
        col("source"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" call 555-1234"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" card 4111111111111111"))
            .otherwise(lit(""))).as("text"))
      TextOps.piiReport(injected).orderBy("source")
    }),

    // URL path-depth statistics per registrable domain (depth cycles
    // 0-3 by doc_id; one domain per source)
    "q184_url_depth" -> ((s, dir) => {
      val path = when(col("doc_id") % 4 === 0, lit("/"))
        .when(col("doc_id") % 4 === 1, lit("/a"))
        .when(col("doc_id") % 4 === 2, lit("/a/b"))
        .otherwise(lit("/a/b/c"))
      val urls = t(s, dir, "documents").select(
        concat(lit("https://"), col("source"), lit(".com"), path)
          .as("url"))
      UrlOps.urlDepthStats(urls).orderBy("domain")
    }),

    // crawl frontier: two synthesized outlinks per doc, own-url crawled
    // set, most-cited uncrawled first (count desc, url asc, top-20)
    "q185_crawl_frontier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def u(path: Column): Column = concat(lit("https://www."),
        col("source"), lit(".example.com/p"), path.cast("string"))
      val crawled = docs.select(u(col("doc_id") % 7).as("url"))
      val cand = docs.select(u((col("doc_id") + 1) % 9).as("url"))
        .unionByName(docs.select(u(col("doc_id") % 11).as("url")))
      UrlOps.crawlFrontier(cand, crawled, k = 20)
    }),

    // embedding centroid drift between the even/odd snapshot halves
    "q186_centroid_drift" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.centroidDrift(embs.filter(col("vec_id") % 2 === 0),
        embs.filter(col("vec_id") % 2 === 1)).orderBy("label")
    }),

    // key-skew diagnostic over the events user domain: top-5 heaviest
    // keys + corpus totals + max/mean skew factor
    "q187_skew_report" -> ((s, dir) =>
      graft.ops.Stats.skewReport(t(s, dir, "events"), "user_id",
        topK = 5).orderBy(col("n").desc, col("key"))),

    // per-epoch deterministic dataloader order, first 10 of each of
    // 3 epochs (WindowGroupLimit-pruned rank)
    "q188_epoch_shuffle" -> ((s, dir) =>
      TextOps.epochShuffleOrder(t(s, dir, "documents"), epochs = 3,
        topK = 10).orderBy("epoch", "rank")),

    // l-diversity privacy audit: (source, length-bin) quasi-groups vs
    // the doc_id%7 sensitive surrogate, l=3
    "q189_l_diversity" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("bin", expr("n_chars div 10"))
        .withColumn("sens", col("doc_id") % 7)
      graft.ops.Quality.lDiversity(d, Seq("source", "bin"), "sens", l = 3)
    }),

    // shard-balance release check over the md5 training shards
    "q190_shard_balance" -> ((s, dir) =>
      TextOps.shardBalance(t(s, dir, "documents"), nShards = 8)
        .orderBy("shard")),

    // politeness makespan per fetcher shard: synthesized robots bodies
    // (delay = source-length%4+1), per-source hosts, optimistic max +
    // pessimistic serial bounds
    "q191_fetch_makespan" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val urls = docs.select(concat(lit("https://www."), col("source"),
        lit(".example.com/p"), (col("doc_id") % 13).cast("string"))
        .as("url"))
      val robots = docs.select(
          concat(lit("www."), col("source"), lit(".example.com"))
            .as("host"),
          concat(lit("User-agent: *\nCrawl-delay: "),
            (length(col("source")) % 4 + 1).cast("string"),
            lit("\nDisallow: /tmp")).as("robots_txt"))
        .distinct()
      UrlOps.fetchMakespan(urls, robots, nShards = 4).orderBy("shard")
    }),

    // CCNet release table: per (source, ppl bucket) doc and token
    // totals — the composition of q170's thirds with the corpus stats
    "q192_ccnet_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.pplBuckets(docs)
        .join(docs.select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("tk")),
          "doc_id")
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum("tk").as("n_tokens"))
        .orderBy("source", "bucket")
    }),

    // anchor-relevance rollup per target registrable domain: absolute
    // links resolve to their own domain (q165's synthesis), relative
    // links to the linking page's
    "q193_anchor_domains" -> ((s, dir) => {
      val html = concat(
        lit("<p><a href=\"https://www."), col("source"),
        lit(".example.com/d"), col("doc_id"), lit("\">Doc "),
        col("doc_id"), lit("</a> and <A HREF='/rel/p"),
        col("doc_id") % 7, lit("'>rel link</A></p>"))
      val pairs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(TextOps.extractAnchors(html)).as("pr"))
        .select(col("source"), col("pr.link").as("link"),
          col("pr.anchor").as("anchor"))
      val domain = when(col("link").startsWith("/"),
        concat(col("source"), lit(".example.com")))
        .otherwise(UrlOps.registeredDomain(UrlOps.hostOf(col("link"))))
      pairs.select(domain.as("domain"), col("anchor"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_anchors"),
          count_distinct(col("anchor")).as("n_distinct_anchors"))
        .orderBy("domain")
    }),

    // code-vs-prose router signals: doc_id%6==0 docs become a code
    // snippet, the rest stay prose
    "q194_code_detect" -> ((s, dir) => {
      val code = concat(lit("def f(x):\n  return x + "),
        col("doc_id").cast("string"),
        lit(";\n  var y = {a: 1};\n  const z = 2;"))
      val d = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 6 === 0, code).otherwise(col("text"))
          .as("text"))
      TextOps.codeSignals(d).orderBy("doc_id")
    }),

    // HTML table extraction: header row + one data row per doc
    "q195_table_extract" -> ((s, dir) => {
      val html = concat(
        lit("<table><tr><th>id</th><th>name</th></tr><tr><td>"),
        col("doc_id").cast("string"), lit("</td><td>row"),
        (col("doc_id") % 5).cast("string"),
        lit("</td></tr></table>"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextOps.extractTables(html))
            .as(Seq("row_no", "cells")))
        .select(col("doc_id"), col("row_no"),
          array_join(col("cells"), "|").as("cells"))
        .orderBy("doc_id", "row_no")
    }),

    // stored-signature incremental near-dup (VERDICT r9 item 1): the
    // corpus (doc_id%4≠0) is indexed ONCE (signatures + band keys); the
    // batch (doc_id%4=0, with %8=0 docs re-crawling their corpus
    // neighbor's text verbatim) bands against the index and drops on
    // signature-estimated Jaccard ≥ 0.5 — corpus text never re-read
    "q196_incremental_fuzzy_stored" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 4 =!= 0)
        .select("doc_id", "text")
      val nxt = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("ntext"))
      val batch = docs.filter(col("doc_id") % 4 === 0)
        .join(nxt, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 8 === 0 && col("ntext").isNotNull,
            col("ntext")).otherwise(col("text")).as("text"))
      val idx = Dedup.buildSignatureIndex(corpus, numHashes = 16,
        bands = 4, portable = true)
      Dedup.incrementalNewFuzzyIndexed(batch, idx, minJaccard = 0.5,
          numHashes = 16, bands = 4, portable = true)
        .select("doc_id").orderBy("doc_id")
    }),

    // BPE trainer loop (VERDICT r9 item 2): 3 rounds of argmax-pair →
    // merge → recount over the distinct word-frequency table; exact
    // integer counts + (cnt DESC, lhs, rhs) tie order make the learned
    // table bit-portable — the oracle unrolls the same 3 iterations
    "q197_bpe_train" -> ((s, dir) =>
      TextOps.bpeTrain(t(s, dir, "documents"), numMerges = 3)
        .orderBy("merge_rank")),

    // multi-class linear router (VERDICT r9 item 3): 3 labels with
    // deterministic INTEGER weights per (label, bucket) → every logit is
    // an exact integer sum in doubles; argmax ties break (logit DESC,
    // label ASC), so the router is bit-portable end to end
    "q198_multiclass_linear" -> ((s, dir) => {
      val weights = s.range(3).select(col("id").as("li"))
        .crossJoin(s.range(64).select(col("id").as("bucket")))
        .select(concat(lit("l"), col("li")).as("label"),
          col("bucket"),
          ((col("bucket") * (col("li") + 2)) % 13 - 6).cast("double")
            .as("weight"))
      TextOps.scoreMultiClassModel(t(s, dir, "documents"), weights,
          numBuckets = 64)
        .orderBy("doc_id", "label")
    }),

    // WET sidecar fast path (VERDICT r9 item 6): conversion records'
    // content IS the extracted text — no envelope strip, no HTML chain;
    // the oracle re-derives every row (incl. the text md5) from the
    // checked-in fixture's literals, the q138 pattern
    "q199_wet_ingest" -> ((s, _) => {
      graft.io.Warc.wetRecords(s, wetFixturePath)
        .withColumn("text_md5", md5(col("text").cast("binary")))
        .orderBy("record_id")
    }),

    // WAT sidecar link extraction: the metadata JSON envelope's outlink
    // array feeds the link graph with zero payload decode
    "q200_wat_links" -> ((s, _) => {
      graft.io.Warc.watLinks(s, watFixturePath)
        .orderBy("src_url", "dst_url")
    }),

    // content-defined chunking (VERDICT r9 stretch 7): boundaries where
    // the trailing 8-gram md5 starts with '0' — position-independent, so
    // shifted duplicates re-align (the property fixed-stride chunking
    // lacks); every chunk byte-checked via its md5
    "q201_cdc_chunks" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextOps.cdcChunks(coalesce(col("text"), lit(""))))
            .as(Seq("p", "chunk")))
        .select(col("doc_id"), (col("p") + 1).cast("int").as("chunk_no"),
          col("chunk"), md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_no")),

    // sequence packing: greedy 512-token packs in the deterministic
    // trainingShards order per md5 shard — the dataloader's sample-
    // packing step as a relational output; oracle walks the identical
    // capacity-reset rule with a recursive CTE
    "q202_sequence_packing" -> ((s, dir) =>
      TextOps.packSequencesGreedy(t(s, dir, "documents"), maxTokens = 512,
          nShards = 4)
        .orderBy("shard", "pack_id", "pack_pos")),

    // DSIR importance scores: src0 is the target domain, the rest the
    // raw pool; both hashed-bucket LMs add-one-smoothed over the full
    // 64-bucket domain, scores = mean ln-ratio rounded at the edge
    "q203_dsir_scores" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.dsirScores(docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"))
        .orderBy("doc_id")
    }),

    // SFT conversation validation: each doc's first 20 words as four
    // 5-word alternating user/assistant turns; structure + char volume
    "q204_chat_stats" -> ((s, dir) =>
      ops.Chat.conversationStats(
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), chatTurnsOf.as("turns")))
        .orderBy("doc_id")),

    // winnowing-overlap candidate pairs: per-doc HIGH-ENTROPY text (30
    // md5-derived 8-hex words — the corpus's 30-word shared vocabulary
    // would make every unrelated pair collide), doc_id%10==0 docs clone
    // their neighbor behind a fresh prefix; only genuine clones share
    // ≥8 winnowed fingerprints
    "q208_winnowing_overlap" -> ((s, dir) => {
      // synth(id) is a pure function of the id, so the neighbor-clone
      // join moves ONLY ids (a has-next flag) and each output row
      // synthesizes its text exactly once — the former base⋈shifted
      // self-join shuffled the 270-char synthesized strings and
      // evaluated the 30-word battery twice per doc. The ids-only
      // round-robin spread puts the synthesis + winnowing kernel on
      // every core (the corpus scan is one split locally; the r17
      // multimodal pattern — heavy bytes are born after the spread).
      // md5PrefixHex ≡ substring(md5(x),1,8) by value, without a fresh
      // MessageDigest + 32-char hex encode + substring copy per word.
      def synthAt(id: Column) = array_join(transform(
        sequence(lit(1), lit(30)),
        i => graft.functions.HashExpressions.md5PrefixHex(
          concat(id.cast("string"), lit(":"), i.cast("string")), 8)), " ")
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val nxt = ids.select((col("doc_id") - 1).as("doc_id"),
        lit(true).as("_has_next"))
      val d = ids.join(nxt, Seq("doc_id"), "left")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0 && col("_has_next"),
            concat(lit("prefix words here "), synthAt(col("doc_id") + 1)))
            .otherwise(synthAt(col("doc_id"))).as("text"))
      Dedup.winnowingOverlap(d, minShared = 8)
        .orderBy("id_a", "id_b")
    }),

    // Luhn-validated card detection: a synthesized 16-digit candidate
    // per doc (≈10% pass the checksum), validity + the separator-
    // tolerant extractor's count — every flag checksum-derived
    "q209_luhn_cards" -> ((s, dir) => {
      val digits = concat(lit("4532"),
        lpad(((col("doc_id") * 7919) % 1000000000000L).cast("string"),
          12, "0"))
      val sep = concat(substring(digits, 1, 4), lit("-"),
        substring(digits, 5, 4), lit("-"), substring(digits, 9, 4),
        lit("-"), substring(digits, 13, 4))
      t(s, dir, "documents").select(col("doc_id"),
          digits.as("candidate"),
          TextOps.luhnValid(digits).cast("int").as("luhn_valid"),
          size(TextOps.creditCardScan(
            concat(lit("card "), sep, lit(" end")))).as("n_valid_found"))
        .orderBy("doc_id")
    }),

    // winnowing fingerprints (k=8 grams, w=8 windows): the MOSS
    // window-min selection, every (pos, fp) bit-checked — the guarantee
    // variant of q38's mod-p rolling sample
    "q207_winnowing" -> ((s, dir) =>
      t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          explode(TextOps.winnowingFingerprints(col("text"))).as("f"))
        .select(col("doc_id"), col("f.pos").as("pos"),
          col("f.fp").as("fp"))
        .orderBy("doc_id", "pos")),

    // calibration reliability bins over DYADIC probs (k/128 — exactly
    // representable, so the float sums are order-independent and the
    // rounded confidence cannot sit on a decimal tie; the q03 lesson);
    // doc_id%129==128 reaches p=1.0 → the top-bin clamp
    "q206_calibration_bins" -> ((s, dir) =>
      TextOps.calibrationBins(
        t(s, dir, "documents").select(col("doc_id"),
          ((col("doc_id") % 129).cast("double") / 128.0).as("prob"),
          (col("doc_id") % 3 === 0).cast("long").as("label")))
        .orderBy("bin")),

    // conversation-level dedup: doc_id%6==0 docs clone their neighbor's
    // text (→ identical rendered conversations); normalized digest,
    // keep-first ownership
    "q205_chat_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val nxt = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("ntext"))
      val d = docs.join(nxt, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 6 === 0 && col("ntext").isNotNull,
            col("ntext")).otherwise(col("text")).as("text"))
        .filter(col("text").isNotNull)
      ops.Chat.dedupConversations(
          d.select(col("doc_id"), chatTurnsOf.as("turns")))
        .select("doc_id", "rendered", "digest", "keep")
        .orderBy("doc_id")
    }),

    // BPE encode through the BROADCAST-KERNEL path (q154's literal fold
    // hits the plan-size ceiling around a few hundred merges; this is
    // the production route for real 32k-merge tables): the 80-merge
    // table routes bpeEncodeAuto past literalMax onto the kernel, whose
    // fold the oracle replays verbatim via the boundary-aware
    // doubled-space transcription; first 3 words of every 10th doc
    // (the oracle pays ~320 string ops per word per merge chain)
    "q269_bpe_encode_kernel" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          posexplode(TextOps.bpeEncodeAuto(s, col("text"), BpeMergesBig))
            .as(Seq("pos", "encoded")))
        .filter(col("pos") < 3)
        .select(col("doc_id"), (col("pos") + 1).as("word_no"),
          col("encoded"))
        .withColumn("n_subwords", size(split(col("encoded"), " ")))
        .orderBy("doc_id", "word_no")
    }),

    // JPEG in the multimodal leg (real crawl images are overwhelmingly
    // lossy): mixed PNG/JPEG corpus decoded through the one sniffing
    // path; dims are decoder-independent (oracle re-derives them from
    // the synthesis formulas), decoded means are decoder-defined so the
    // gate is a tolerance bound vs the formula means computed IN-QUERY
    // (exact for png, ±16 for jpeg — measured max error 7.2 at q=0.9;
    // the q141 bound-oracle pattern: DuckDB asserts the flag constant,
    // the real decode still runs per row and a crash breaks the match)
    "q270_jpeg_features" -> ((s, dir) => {
      val assets = graft.multimodal.Multimodal.synthesizeAssetsMixed(
        t(s, dir, "documents").select("doc_id"))
      def fm(c: Int) = expr(
        s"""aggregate(flatten(transform(sequence(0, int(height) - 1),
           |  y -> transform(sequence(0, int(width) - 1),
           |  x -> pmod(asset_id * ${c + 1} + 3 * x + 7 * y, 256)))),
           |  0L, (acc, v) -> acc + v)""".stripMargin
          .replace("\n", " ")) / (col("width") * col("height"))
            .cast("double")
      graft.multimodal.Multimodal.extractFeatures(
          assets.filter(col("modality") === "image"))
        .withColumn("codec",
          when(col("asset_id") % 6 === 0, "jpeg").otherwise("png"))
        .withColumn("bound", when(col("codec") === "jpeg", lit(16.0))
          .otherwise(lit(0.0)))
        .select(col("asset_id"), col("width"), col("height"),
          col("codec"),
          (abs(col("m0") - fm(0)) <= col("bound") &&
            abs(col("m1") - fm(1)) <= col("bound") &&
            abs(col("m2") - fm(2)) <= col("bound")).cast("long")
            .as("means_in_bounds"))
        .orderBy("asset_id")
    }),

    // SCRIPT-DISPATCHED quality gates over a synthesized multilingual
    // corpus: every 4th doc becomes pure CJK (whitespace word rules see
    // ONE giant token and misgate it three independent ways), every
    // 4th+1 gets a mixed-script prefix; the scripted battery routes CJK
    // docs to char-based counting and latin docs to the EXACT q145
    // measurements. Oracle re-derives dominant + both dispatch branches
    // from the same class strings and synthesis
    "q271_script_gates" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val synth = d.select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(expr("repeat('深度学习模型训练数据质量', " +
            "int(doc_id % 7 + 5))"), lit("。")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("GPU加速 "), col("text")))
          .otherwise(col("text")).as("text"))
      TextOps.gopherRulesScripted(synth, minWords = 10)
        .orderBy("doc_id")
    }),

    // EXACT any-offset substring mining (Lee et al. ExactSubstr): every
    // 20th doc gets a clone embedding chars [40,140) of its truncated
    // text at offset 3 — a shifted duplicate; the miner reports each
    // maximal shared span >= 40 with exact boundaries. Oracle replays
    // the full pipeline: all-positions 60-bit gram hashes, df cap,
    // digest join, diagonal run-length merge
    "q272_exact_substr" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 20 === 0)
        .select(col("doc_id"), substring(col("text"), 1, 160).as("text"))
      val clones = d.filter(length(col("text")) >= 140)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(lit("ZQX"), substring(col("text"), 41, 100), lit("WKJ"))
            .as("text"))
      Dedup.exactSubstrSpans(d.unionByName(clones), minLen = 40)
        .orderBy("id_a", "id_b", "a_start", "b_start")
    }),

    // the ExactSubstr LIFECYCLE end-to-end: q272's spans → keep-first
    // cut manifest → corpus rewrite; clone docs come back with the
    // copied span excised, untouched docs pass through verbatim
    "q273_exact_substr_cuts" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 20 === 0)
        .select(col("doc_id"), substring(col("text"), 1, 160).as("text"))
      val clones = d.filter(length(col("text")) >= 140)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(lit("ZQX"), substring(col("text"), 41, 100), lit("WKJ"))
            .as("text"))
      val corpus = d.unionByName(clones)
      val cuts = Dedup.exactSubstrCutManifest(
        Dedup.exactSubstrSpans(corpus, minLen = 40))
      Dedup.exactSubstrApplyCuts(corpus, cuts)
        .select(col("doc_id"), col("cleaned"), col("n_cuts"))
        .orderBy("doc_id")
    }),

    // DETERMINISTIC bootstrap CI for per-model eval accuracy: 8 models
    // over an item grid with strength-graded verdicts; resample draws
    // via the portable md5 bucket (model:r:i mod n), percentile CI as
    // order statistics — every reported value an exact k/n quotient
    "q274_bootstrap_ci" -> ((s, dir) => {
      val results = t(s, dir, "documents")
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), explode(sequence(lit(0), lit(7))).as("m"))
        .select(concat(lit("model_"), col("m")).as("model"),
          col("doc_id").as("item_id"),
          (pmod((col("doc_id") / 5).cast("long") + col("m") * lit(37L),
            lit(10L)) < col("m") + 2)
            .cast("int").as("passed"))
      ops.Chat.bootstrapEvalCI(results, b = 100).orderBy("model")
    }),

    // PAIRED bootstrap delta: model_5 (pass rate ~7/10) vs model_2
    // (~4/10) on the SHARED item set — same resample indices applied
    // to both sides, so the interval is on the per-item difference;
    // the gap is real and the CI must exclude zero
    "q275_paired_delta" -> ((s, dir) => {
      val results = t(s, dir, "documents")
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), explode(sequence(lit(0), lit(7))).as("m"))
        .select(concat(lit("model_"), col("m")).as("model"),
          col("doc_id").as("item_id"),
          (pmod((col("doc_id") / 5).cast("long") + col("m") * lit(37L),
            lit(10L)) < col("m") + 2).cast("int").as("passed"))
      ops.Chat.bootstrapPairedDelta(results, "model_5", "model_2",
        b = 100)
    }),

    // SCRIPT-DISPATCHED sentence + repetition stats: every 4th doc
    // becomes multi-sentence CJK — the ASCII [.!?]+ class sees ONE
    // sentence and word n-grams see ONE word (repetition hardwired
    // 0.0) — every 4th+1 gets a mixed-script prefix; the scripted ops
    // route CJK docs to full-width delimiters and char 3-grams,
    // everything else to the EXACT legacy measurements. Oracle
    // re-derives dominant + both dispatch branches from the same class
    // strings over the same synthesis
    "q276_script_sentences" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val synth = d.select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          expr("repeat('深度学习模型训练数据质量。数据去重非常重要！', " +
            "int(doc_id % 5 + 2))"))
          .when(col("doc_id") % 4 === 1,
            concat(lit("GPU加速 "), col("text")))
          .otherwise(col("text")).as("text"))
      TextOps.sentenceStatsScripted(synth)
        .join(synth.select(col("doc_id"),
          TextOps.duplicateNgramFractionScripted(col("text"), 3)
            .as("rep3")), Seq("doc_id"))
        .orderBy("doc_id")
    }),

    // SCRIPT-DISPATCHED cross-doc boilerplate: every 4th doc becomes a
    // CJK page with a unique numbered body and a SHARED template
    // footer — word shingles see each page as one giant distinct
    // "word" (boilerplate invisible); char-3-gram shingles find the
    // footer. Latin docs keep the EXACT q113 word-shingle measurement;
    // one inverted index serves both classes (word grams and char
    // grams never collide as strings)
    "q277_script_boilerplate" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val synth = d.select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("本页编号"),
            translate(col("doc_id").cast("string"),
              "0123456789", "零一二三四五六七八九"),
            lit("的内容与其他页面不同。版权所有转载请注明出处")))
          .otherwise(col("text")).as("text"))
      Dedup.duplicatedShingleFractionScripted(synth)
        .select(col("doc_id"), col("n_shingles"), col("n_duplicated"),
          round(col("dup_fraction"), 6).as("dup_fraction"))
        .orderBy("doc_id")
    }),

    // TOKENIZER APPLICATION end-to-end: q269's kernel-encoded words
    // mapped to token IDS through the broadcast vocab (the
    // tokenizer.json model.vocab side) — the sequence a training-data
    // writer materializes. Symbols outside the vocab map to -1 (the
    // merges/vocab mismatch flag); oracle replays the id lookup as a
    // positioned unnest + left join over the same VALUES vocab
    "q278_bpe_token_ids" -> ((s, dir) => {
      val bcM = TextOps.bpeMergesBroadcast(s, BpeMergesBig)
      val bcV = TextOps.bpeVocabBroadcast(s, BpeVocab)
      t(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          posexplode(TextOps.bpeEncodeKernel(col("text"), bcM))
            .as(Seq("pos", "encoded")))
        .filter(col("pos") < 3)
        .select(col("doc_id"), (col("pos") + 1).as("word_no"),
          graft.functions.VectorExpressions
            .vocabIds(col("encoded"), bcV).as("ids"))
        .select(col("doc_id"), col("word_no"),
          array_join(transform(col("ids"), x => x.cast("string")), " ")
            .as("ids_str"),
          size(col("ids")).as("n_tokens"),
          size(filter(col("ids"), x => x === -1)).as("n_oov"))
        .orderBy("doc_id", "word_no")
    }),

    // BPE token BUDGET per source — the mixing/pricing statistic at the
    // real tokenizer's granularity (whitespace proxies mis-count by
    // 2-4x on code/CJK): Σ encoded symbol counts, grouped by source.
    // Text truncated so the oracle's merge-per-CTE replay stays
    // tractable; the Spark path is map-only either way
    "q279_bpe_token_budget" -> ((s, dir) => {
      val bcM = TextOps.bpeMergesBroadcast(s, BpeMergesBig)
      t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("source"),
          TextOps.bpeTokenCount(substring(col("text"), 1, 60), bcM)
            .as("n"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("n_bpe_tokens"))
        .orderBy("source")
    }),

    // CALIBRATION report (reliability diagram): synthesized judge
    // confidences on the DYADIC k/128 grid (exact float sums, incl.
    // conf=1.0 exercising the last-bin clamp) with correctness odds
    // tracking confidence; per bin the exact-quotient accuracy, mean
    // confidence, and gap
    "q280_calibration" -> ((s, dir) => {
      val res = t(s, dir, "documents").select(
        (((col("doc_id") * 7) % 129).cast("double") / 128.0)
          .as("confidence"),
        (((col("doc_id") * 13) % 128) < ((col("doc_id") * 7) % 129))
          .cast("int").as("correct"))
      ops.Chat.calibrationReport(res, bins = 10).orderBy("bin")
    }),

    // the ECE scalar over the same synthesis — the cross-bin weighted
    // sum runs as a FIXED-ORDER fold over the bin-sorted list on both
    // engines (the q221 portable-sum convention)
    "q281_ece" -> ((s, dir) => {
      val res = t(s, dir, "documents").select(
        (((col("doc_id") * 7) % 129).cast("double") / 128.0)
          .as("confidence"),
        (((col("doc_id") * 13) % 128) < ((col("doc_id") * 7) % 129))
          .cast("int").as("correct"))
      ops.Chat.expectedCalibrationError(
        ops.Chat.calibrationReport(res, bins = 10))
    }),

    // DSIR importance weights (Xie et al. 2023): every 11th doc is the
    // "target" distribution, the rest are raw crawl; per raw doc the
    // hashed-unigram log-ratio weight with every ln snapped to the
    // 2^-20 grid as a LONG — the per-doc reduction is exact integer
    // arithmetic, one division at the edge (the q242 ln convention)
    "q282_dsir_weights" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextOps.dsirWeights(
          d.filter(col("doc_id") % 11 =!= 0),
          d.filter(col("doc_id") % 11 === 0), numBuckets = 32)
        .orderBy("doc_id")
    }),

    // the selection half: top-25 most target-like raw docs, ties by id
    "q283_dsir_select" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextOps.dsirSelect(
          d.filter(col("doc_id") % 11 =!= 0),
          d.filter(col("doc_id") % 11 === 0), k = 25, numBuckets = 32)
        .select(col("doc_id"), col("weight"))
        .orderBy(col("weight").desc, col("doc_id"))
    }),

    // CDXJ index PARSE: real-format `urlkey ts {json}` lines
    // synthesized from documents, pushed through the Cdx parser; the
    // oracle derives every field independently from the same synthesis
    // — Spark's regex + JSON route must land on ground truth
    "q284_cdx_parse" -> ((s, dir) => {
      cdxLines(t(s, dir, "documents"))
        .select(graft.io.Cdx.parsed(col("line")).as("r"))
        .select(col("r.*"))
        .orderBy("urlkey")
    }),

    // pre-fetch digest dedup + the per-archive fetch plan over the
    // same index: duplicate digests keep the earliest capture, non-200
    // rows gate out, and each archive reads as ONE offset-ordered sweep
    "q285_cdx_fetch_plan" -> ((s, dir) => {
      val recs = cdxLines(t(s, dir, "documents"))
        .select(col("line"), graft.io.Cdx.parsed(col("line")).as("r"))
        .select(col("r.*"), col("line"))
      graft.io.Cdx.planFetch(graft.io.Cdx.dedupByDigest(recs))
        .orderBy("filename", "fetch_seq")
    }),

    // The Stack / StarCoder code-file quality battery over a corpus
    // with the three failure strata synthesized in: doc_id%7==0 gets
    // an autogen header, %7==1 becomes one minified 1,207-char line,
    // %7==2 becomes an all-symbol blob (alnum_frac = 0)
    "q286_code_quality" -> ((s, dir) => {
      val base = coalesce(col("text"), lit(""))
      val txt = when(col("doc_id") % 7 === 0,
          concat(lit("// Generated by protoc. DO NOT EDIT!\n"), base))
        .when(col("doc_id") % 7 === 1,
          concat(lit("var a="), repeat(lit("{x:1},"), 200), lit(";")))
        .when(col("doc_id") % 7 === 2, repeat(lit("{}();;==->** "), 30))
        .otherwise(base)
      TextOps.codeQualityRules(
          t(s, dir, "documents").select(col("doc_id"), txt.as("text")))
        .orderBy("doc_id")
    }),

    // training-loss trajectory audit: synthesized 8-step telemetry
    // with the four verdict classes built in by doc_id%4 — falling
    // (learned), falling-to-floor (memorized), zero-slope alternating
    // (noisy: the +,-,-,+ sign pattern makes Sxy cancel exactly), and
    // constant (stagnant); all losses integer milli-units so the OLS
    // reduction is exact on both engines
    "q287_loss_trajectories" -> ((s, dir) => {
      ops.Training.lossTrajectories(lossTelemetry(t(s, dir, "documents")))
        .orderBy("doc_id")
    }),

    // the corpus rollup a mixture planner reads: per (source, verdict)
    // doc counts and exact-quotient mean final loss
    "q288_loss_rollup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      ops.Training.lossVerdictRollup(
          ops.Training.lossTrajectories(lossTelemetry(d)),
          d.select(col("doc_id"), col("source")))
        .orderBy("source", "verdict")
    }),

    // markdown structure profile: headers / fences / links / bullets
    // synthesized onto the corpus text with known densities, the
    // composite is_markdown verdict at the documented threshold
    "q289_markdown_stats" -> ((s, dir) => {
      TextOps.markdownStats(
          t(s, dir, "documents").select(col("doc_id"),
            mdSynthesis(col("doc_id"), col("text")).as("text")))
        .orderBy("doc_id")
    }),

    // Secret-Sharer canary manifest: inject three frequency tiers
    // (modulus 2 / 10 / 50 md5 gates) into the corpus, then scan the
    // result — the manifest is MEASURED from the rewritten text, the
    // oracle derives it independently from the same gates
    "q291_canary_manifest" -> ((s, dir) => {
      TextOps.canaryScan(
          TextOps.injectCanaries(t(s, dir, "documents"), CanarySpec),
          CanarySpec)
        .orderBy("canary_id")
    }),

    // the extraction-risk readout: train manifest vs a synthesized
    // generations corpus where doc_id%20==0 outputs leak canary c2
    // TWICE (occurrences > docs) and %20==1 leak c10 once; c50 never
    // leaks and must read zeros via the left join
    "q292_canary_exposure" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val gen = d.select(col("doc_id"),
        when(col("doc_id") % 20 === 0,
          concat(lit("model says "), TextOps.canaryText(lit("c2")),
            lit(" and again "), TextOps.canaryText(lit("c2"))))
        .when(col("doc_id") % 20 === 1,
          concat(lit("leak "), TextOps.canaryText(lit("c10"))))
        .otherwise(lit("clean output")).as("text"))
      TextOps.canaryExposure(
          TextOps.canaryScan(TextOps.injectCanaries(d, CanarySpec),
            CanarySpec),
          TextOps.canaryScan(gen, CanarySpec))
        .orderBy("canary_id")
    }),

    // pack manifest over q202's greedy packing: per pack the doc
    // boundary offsets (the cross-doc attention-mask positions), fill
    // efficiency against the 512 window, and the truncation flag
    "q293_pack_manifest" -> ((s, dir) =>
      TextOps.packManifest(
          TextOps.packSequencesGreedy(t(s, dir, "documents"),
            maxTokens = 512, nShards = 4),
          maxTokens = 512)
        .orderBy("shard", "pack_id")),

    // fenced-code-block extraction: every block's language tag + body,
    // one tagged python block per doc and an untagged second block on
    // doc_id%4==0
    "q290_fenced_blocks" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextOps.fencedBlocks(mdSynthesis(col("doc_id"),
            col("text")))).as(Seq("blk_no", "blk")))
        .select(col("doc_id"), col("blk_no"),
          col("blk.lang").as("lang"), col("blk.body").as("body"))
        .orderBy("doc_id", "blk_no")
    }),

    // BYTE-LEVEL BPE encode — the GPT-2/RoBERTa/CLIP family's real
    // semantics (q269 is the lowercased whitespace family): gpt2
    // pre-tokens (leading space ATTACHES: every non-first word rides
    // its Ġ), bytes through the public bytes_to_unicode alphabet, the
    // same 80-merge broadcast-kernel fold over Ġ-form merges. The
    // oracle rebuilds pre-tokens from the corpus's single-space shape
    // (first word bare, rest Ġ-prefixed — the regex's value on this
    // corpus) and replays the fold merge-per-CTE
    "q294_bpe_byte_encode" -> ((s, dir) => {
      val bcM = TextOps.bpeMergesBroadcast(s, BpeMergesByte)
      t(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          posexplode(TextOps.bpeEncodeByteLevel(col("text"), bcM))
            .as(Seq("pos", "encoded")))
        .filter(col("pos") < 3)
        .select(col("doc_id"), (col("pos") + 1).as("word_no"),
          col("encoded"))
        .withColumn("n_subwords", size(split(col("encoded"), " ")))
        .orderBy("doc_id", "word_no")
    }),

    // the id sequences under byte-level semantics — what pointing the
    // engine at a real GPT-2-style merges+vocab pair materializes;
    // 'q' is deliberately absent from the vocab so q-words exercise
    // the -1 OOV path (q278's convention)
    "q295_bpe_byte_ids" -> ((s, dir) => {
      val bcM = TextOps.bpeMergesBroadcast(s, BpeMergesByte)
      val bcV = TextOps.bpeVocabBroadcast(s, BpeVocabByte)
      t(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          posexplode(TextOps.bpeEncodeByteLevel(col("text"), bcM))
            .as(Seq("pos", "encoded")))
        .filter(col("pos") < 3)
        .select(col("doc_id"), (col("pos") + 1).as("word_no"),
          graft.functions.VectorExpressions
            .vocabIds(col("encoded"), bcV).as("ids"))
        .select(col("doc_id"), col("word_no"),
          array_join(transform(col("ids"), x => x.cast("string")), " ")
            .as("ids_str"),
          size(col("ids")).as("n_tokens"),
          size(filter(col("ids"), x => x === -1)).as("n_oov"))
        .orderBy("doc_id", "word_no")
    }),

    // MULTILINGUAL language-ID routing: char-n-gram profile scoring
    // (TextCat/CLD approach, ~12 languages, exact integer scores) over
    // a synthesized multilingual corpus — one fixed sentence per
    // language spliced over doc_id % 14, plain corpus prose in the
    // remaining slots. The oracle replays the IDENTICAL profile table
    // (generated from the same constant) via the length-delta
    // occurrence count — legal because every profile gram is
    // borderless (class-load-validated), so replace-counting equals
    // the kernel's every-position scan
    "q296_lang_id_multi" -> ((s, dir) => {
      t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          TextOps.langIdMulti(
            multiLangText(col("doc_id"), col("text"))).as("v"))
        .select(col("doc_id"), col("v.lang").as("lang"),
          col("v.score").as("score"))
        .orderBy("doc_id")
    }),

    // the router feeding the temperature mixer: q296's routed lang as
    // the stratum column of temperatureRates (τ=0.5 sqrt chain +
    // fixed-order fold — the q221 bit-portability recipe), per-lang
    // ppm keep-rates for a 300-doc target
    "q297_lang_temperature" -> ((s, dir) => {
      val routed = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          TextOps.langIdMulti(
            multiLangText(col("doc_id"), col("text")))
            .getField("lang").as("lang"))
      TextOps.temperatureRates(routed, targetTotal = 300, tau = 0.5,
          stratumCol = "lang")
        .orderBy("stratum")
    }),

    // the DETOKENIZER round trip: first 3 pre-tokens encoded to ids
    // through the LOSSLESS vocab (every letter + Ġ + merges), decoded
    // back (inverse vocab → byte-form concat → bytes_to_unicode
    // inverse). Byte-level tokenization is lossless, so the oracle
    // derives the expected text DIRECTLY from the source words —
    // if any stage dropped or reordered a byte, the hash breaks
    "q298_bpe_byte_roundtrip" -> ((s, dir) => {
      val bcM = TextOps.bpeMergesBroadcast(s, BpeMergesByte)
      val bcV = TextOps.bpeVocabBroadcast(s, BpeVocabByteFull)
      val bcInv = TextOps.bpeVocabInverseBroadcast(s, BpeVocabByteFull)
      t(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          flatten(slice(transform(TextOps.gpt2PreTokens(col("text")),
            tk => graft.functions.VectorExpressions.vocabIds(
              TextOps.bpeEncodeWordKernel(
                graft.functions.VectorExpressions.gpt2Bytes(tk), bcM),
              bcV)), 1, 3)).as("ids"))
        .select(col("doc_id"),
          TextOps.bpeDecodeIdsByteLevel(col("ids"), bcInv).as("decoded"))
        .orderBy("doc_id")
    }),

    // the METASPACE detokenizer round trip — q298's argument in the ▁
    // alphabet: first 3 ▁-form pre-tokens encoded to ids through the
    // LOSSLESS vocab, decoded back (inverse vocab → concat → ▁→space
    // → strip the planted leading space). Metaspace tokenization
    // preserves case and spacing, so the oracle derives the expected
    // text DIRECTLY from the source words
    "q345_metaspace_roundtrip" -> ((s, dir) => {
      val bcM = TextOps.bpeMergesBroadcast(s, BpeMergesMeta)
      val bcV = TextOps.bpeVocabBroadcast(s, BpeVocabMetaFull)
      val bcInv = TextOps.bpeVocabInverseBroadcast(s, BpeVocabMetaFull)
      t(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 10 === 4)
        .select(col("doc_id"),
          flatten(slice(transform(
            TextOps.metaspacePreTokens(col("text")),
            tk => graft.functions.VectorExpressions.vocabIds(
              TextOps.bpeEncodeWordKernel(tk, bcM), bcV)), 1, 3))
            .as("ids"))
        .select(col("doc_id"),
          TextOps.bpeDecodeIdsMetaspace(col("ids"), bcInv).as("decoded"))
        .orderBy("doc_id")
    }),

    // BYTE-LEVEL BPE TRAINER: 3 merges learned over the pre-token
    // byte-form domain — the merges come out in the Ġ alphabet, ready
    // for bpeEncodeByteLevel / writeMergesTxt. Oracle unrolls the same
    // 3 rounds over the byte-form word table (the q197 round CTEs —
    // the loop is alphabet-agnostic)
    "q299_bpe_byte_train" -> ((s, dir) =>
      TextOps.bpeTrainByteLevel(t(s, dir, "documents"), numMerges = 3)
        .orderBy("merge_rank")),

    // UNIGRAM PACK BUDGETS — per-doc token counts under the q235
    // unigram tokenizer: the DP runs ONCE on the distinct-word domain,
    // per-word piece counts join back, docs sum; >12-char words fall
    // back to their char count (the never-undercount bound)
    "q339_unigram_budget" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val words = d.select(explode(TextOps.wsTokens(lower(col("text"))))
          .as("word"))
        .filter(length(col("word")) > 0)
      val vocab = TextOps.substringVocab(words)
      TextOps.unigramTokenCounts(d, vocab).orderBy("doc_id")
    }),

    // RECALL of the decontamination blocking (the q126/q324 honesty
    // convention): eval = every 10th vector PERTURBED (+0.04 on the
    // first 8 coords — self-cosine stays >= 0.99 but angles move
    // enough to flip some of the 6 LSH planes), brute = the same
    // threshold with NO bucket restriction; recall = found / brute
    "q337_sem_decon_recall" -> ((s, dir) => {
      import graft.ml.Similarity
      val embs = t(s, dir, "embeddings")
      val ev = embs.filter(col("vec_id") % 10 === 3)
        .select(transform(col("embedding").cast("array<double>"),
          (x, i) => x + when(i < 8, lit(0.04)).otherwise(lit(0.0)))
          .as("embedding"))
      val survivors = Dedup.semanticDecontaminate(embs, ev,
        minCosine = 0.9, planes = 6)
      val found = embs.select("vec_id")
        .join(survivors.select("vec_id"), Seq("vec_id"), "left_anti")
      val e2 = embs.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", Similarity.norm(col("v"), 64))
      val q = ev.select(col("embedding").as("ee"))
        .withColumn("enrm", Similarity.norm(col("ee"), 64))
      val brute = e2.crossJoin(broadcast(q))
        .filter(col("nrm") * col("enrm") > 0)
        .filter(Similarity.dot(col("v"), col("ee"), 64) /
          (col("nrm") * col("enrm")) >= 0.9)
        .select("vec_id").distinct()
      brute.agg(count(lit(1)).as("n_brute")).crossJoin(
          brute.join(found, Seq("vec_id"), "left_semi")
            .agg(count(lit(1)).as("n_found")))
        .select(col("n_brute"), col("n_found"),
          (col("n_found").cast("double") /
            col("n_brute").cast("double")).as("recall"))
    }),

    // the MULTI-PROBE recall gain — q337 with one-bit-flip probing:
    // pairs that disagree on exactly one of the 6 planes are
    // recovered, so recall must rise (the cost: 7 bucket rows per
    // eval vector, benchmark-sized side only)
    "q338_sem_decon_multiprobe" -> ((s, dir) => {
      import graft.ml.Similarity
      val embs = t(s, dir, "embeddings")
      val ev = embs.filter(col("vec_id") % 10 === 3)
        .select(transform(col("embedding").cast("array<double>"),
          (x, i) => x + when(i < 8, lit(0.04)).otherwise(lit(0.0)))
          .as("embedding"))
      val survivors = Dedup.semanticDecontaminate(embs, ev,
        minCosine = 0.9, planes = 6, multiProbe = true)
      val found = embs.select("vec_id")
        .join(survivors.select("vec_id"), Seq("vec_id"), "left_anti")
      val e2 = embs.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", Similarity.norm(col("v"), 64))
      val q = ev.select(col("embedding").as("ee"))
        .withColumn("enrm", Similarity.norm(col("ee"), 64))
      val brute = e2.crossJoin(broadcast(q))
        .filter(col("nrm") * col("enrm") > 0)
        .filter(Similarity.dot(col("v"), col("ee"), 64) /
          (col("nrm") * col("enrm")) >= 0.9)
        .select("vec_id").distinct()
      brute.agg(count(lit(1)).as("n_brute")).crossJoin(
          brute.join(found, Seq("vec_id"), "left_semi")
            .agg(count(lit(1)).as("n_found")))
        .select(col("n_brute"), col("n_found"),
          (col("n_found").cast("double") /
            col("n_brute").cast("double")).as("recall"))
    }),

    // DECLARED-NORMALIZER DISPATCH end-to-end: the corpus is damaged
    // into full-width forms (a→ａ, b→Ｂ — exactly the compatibility
    // characters real crawls carry), a SHIPPED tokenizer.json
    // declaring Sequence(NFKC, Lowercase) is loaded back through
    // loadTokenizer, and its composed encoder must produce the
    // IDENTICAL symbol stream q269 gets on the clean corpus — NFKC
    // folds ａ→a/Ｂ→B, Lowercase finishes B→b. Skipping the declared
    // normalizer leaves ａ/ｂ outside the merge alphabet and the
    // encode visibly diverges (lower() alone maps Ｂ only to
    // full-width ｂ, never to ASCII b)
    "q340_normalizer_encode" -> ((s, dir) => {
      import graft.text.TokenizerFiles
      val lt = TokenizerFiles.loadTokenizer(s,
        normalizerTokenizerPath(s))
      val enc =
        lt.asInstanceOf[TokenizerFiles.ColumnTokenizer].encode
      t(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 10 === 1)
        .select(col("doc_id"),
          posexplode(enc(translate(col("text"), "ab", "ａＢ")))
            .as(Seq("pos", "encoded")))
        .filter(col("pos") < 3)
        .select(col("doc_id"), (col("pos") + 1).as("word_no"),
          col("encoded"))
        .withColumn("n_subwords", size(split(col("encoded"), " ")))
        .orderBy("doc_id", "word_no")
    }),

    // ONE-CALL TOKEN BUDGETS under a shipped tokenizer file — the
    // packing-side twin of q340: tokenBudgets loads the declared
    // NFKC+Lowercase whitespace-BPE tokenizer and prices EVERY doc of
    // the full-width-damaged corpus (per-doc word and real-subword
    // counts); the oracle re-prices the clean corpus through q154's
    // chained-replace fold — equality again holds only if the
    // declared normalizer ran inside the budget counter
    "q341_token_budgets" -> ((s, dir) => {
      import graft.text.TokenizerFiles
      val lt = TokenizerFiles.loadTokenizer(s, budgetTokenizerPath(s))
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          translate(col("text"), "ab", "ａＢ").as("text"))
      TokenizerFiles.tokenBudgets(lt, d).orderBy("doc_id")
    }),

    // COMPOSITE BertNormalizer end-to-end — q340's argument at the
    // BERT WordPiece leg: the corpus is damaged with precomposed
    // accents (a→á), case flips (b→B), and a BEL control char glued
    // to every word boundary; a SHIPPED tokenizer.json declaring
    // `BertNormalizer` must expand to its flag-derived sub-chain
    // (clean_text drops the BEL, StripAccents folds á→a, Lowercase
    // folds B→b) and reproduce the clean-corpus q300 fold EXACTLY.
    // Skipping any expanded member visibly diverges: á stays outside
    // the vocab alphabet (→ [UNK]) and BEL-led words match nothing
    "q342_bert_normalizer" -> ((s, dir) => {
      import graft.text.TokenizerFiles
      val lt = TokenizerFiles.loadTokenizer(s, bertTokenizerPath(s))
      val enc =
        lt.asInstanceOf[TokenizerFiles.ColumnTokenizer].encode
      val damaged = regexp_replace(
        translate(col("text"), "ab", "áB"), " ", " \u0007")
      t(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 10 === 2)
        .select(col("doc_id"),
          posexplode(enc(damaged)).as(Seq("pos", "encoded")))
        .filter(col("pos") < 4)
        .select(col("doc_id"), (col("pos") + 1).as("word_no"),
          col("encoded"))
        .withColumn("n_pieces", size(split(col("encoded"), " ")))
        .orderBy("doc_id", "word_no")
    }),

    // ADDED-TOKEN EXTRACTION end-to-end — the AddedVocabulary half of
    // real tokenizer files: every doc gains a leading '<|doc|> ' and
    // a '<|sep|>' GLUED between its first two words (no whitespace on
    // either side — the case no pre-tokenizer alone can split); the
    // shipped file declares both as special added_tokens, and the
    // loaded encoder must emit each as its own single-piece word with
    // the surrounding words encoded exactly as the clean corpus.
    // The oracle replays the clean q269 fold with the specials
    // INERT single symbols spliced at their closed-form positions
    "q343_added_tokens" -> ((s, dir) => {
      import graft.text.TokenizerFiles
      val lt = TokenizerFiles.loadTokenizer(s, addedTokenizerPath(s))
      val enc =
        lt.asInstanceOf[TokenizerFiles.ColumnTokenizer].encode
      val damaged = concat(lit("<|doc|> "),
        regexp_replace(col("text"), "^(\\S+) ", "$1<|sep|>"))
      t(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 10 === 3)
        .select(col("doc_id"),
          posexplode(enc(damaged)).as(Seq("pos", "encoded")))
        .filter(col("pos") < 4)
        .select(col("doc_id"), (col("pos") + 1).as("word_no"),
          col("encoded"))
        .withColumn("n_subwords", size(split(col("encoded"), " ")))
        .orderBy("doc_id", "word_no")
    }),

    // CHAT-TEMPLATE TOKEN BUDGETS — the SFT-data pricing composition:
    // q204's synthesized conversations render through
    // Chat.renderTemplate (role markers GLUED to content on both
    // sides), and tokenBudgets prices every rendered string under a
    // shipped tokenizer declaring <|user|>/<|assistant|> as special
    // added_tokens — each marker exactly ONE word and ONE token, the
    // content words priced by the q154 fold. The oracle re-derives
    // both counts from the CLEAN corpus words + the closed-form turn
    // count (it never renders): equality holds only if extraction
    // split the glued markers out
    "q344_chat_token_budgets" -> ((s, dir) => {
      import graft.text.TokenizerFiles
      val lt = TokenizerFiles.loadTokenizer(s, chatTokenizerPath(s))
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          ops.Chat.renderTemplate(chatTurnsOf).as("text"))
      TokenizerFiles.tokenBudgets(lt, d).orderBy("doc_id")
    }),


    // FULL UNIGRAM TRAINING — two chained EM rounds with pruning to a
    // 60-piece target (q236 is the single-round M-step): seed
    // substring vocab → segment/recount/prune/re-estimate ×2; chained
    // lnp values ride the 2^-20 dyadic grid so round 2's DP is
    // bit-portable. The oracle unrolls BOTH Viterbi chains
    "q336_unigram_train" -> ((s, dir) =>
      TextOps.unigramTrain(t(s, dir, "documents")
          .filter(col("text").isNotNull),
        targetVocab = 60, rounds = 2).orderBy("piece")),

    // SEMANTIC DECONTAMINATION — the embedding-space complement of
    // the q54 n-gram gate: train = vec_id % 5 != 0, eval = the rest;
    // hyperplane-bucket-blocked cosine (6 planes, the q28 recall
    // convention), survivors out. The oracle replays the identical
    // plane literals, bucket join, zero-norm guard, and
    // division-then-compare
    // (the corpus's distinct-id cosines top out ~0.6, so the eval set
    // is the LEAKED form itself: copies of every vec_id % 10 == 3
    // vector play the benchmark that escaped into training — those
    // rows must drop, nothing else reaches 0.9)
    "q335_semantic_decon" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      Dedup.semanticDecontaminate(
          embs,
          embs.filter(col("vec_id") % 10 === 3).select(col("embedding")),
          minCosine = 0.9, planes = 6)
        .select(col("vec_id")).orderBy("vec_id")
    }),

    // CCNet-STYLE PERPLEXITY SCORING — mean bigram NLL under an
    // add-one reference LM trained on the even-id half, scored on the
    // odd-id half. ln snapped to the 2^-20 dyadic grid on both sides
    // (the q242 recipe) so sums are order-independent-exact; nll is
    // the one unrounded edge quotient (ppl = exp(nll) is monotone in
    // it and exp is not cross-engine portable)
    "q334_lm_perplexity" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val lm = TextOps.bigramLmTrain(d.filter(col("doc_id") % 2 === 0))
      TextOps.bigramNllRef(d.filter(col("doc_id") % 2 === 1), lm)
        .orderBy("doc_id")
    }),

    // METASPACE BPE training — the SentencePiece-BPE (Llama-family)
    // trainer: the q299 loop over ▁-form pre-tokens (every word
    // ▁-led, case preserved); ship the result with
    // writeTokenizerJsonBpe and loadTokenizer reads it back
    "q333_metaspace_train" -> ((s, dir) =>
      TextOps.bpeTrainMetaspace(t(s, dir, "documents"), numMerges = 3)
        .orderBy("merge_rank")),

    // WORDPIECE encode — the BERT family's greedy longest-match-first
    // subwords over basic tokens (lowercase + punctuation/CJK padding),
    // completing the tokenizer trio: full words beat their prefixes
    // ('row', 'table'), multi-char heads beat single letters
    // ('sl'/'que'/'wind'), 'hash' collapses to [UNK] on the missing
    // ##h continuation, 'customer' on the maxChars=7 length guard.
    // The oracle replays greedy matching as a recursive CTE whose
    // longest-match CASE is generated from the SAME vocab constant
    "q300_wordpiece_encode" -> ((s, dir) => {
      val bcV = TextOps.wordpieceVocabBroadcast(s, WpVocab, maxChars = 7)
      // slice BEFORE encoding: only the first 4 words pay the kernel
      val toks = slice(TextOps.wordpieceBasicTokens(col("text")), 1, 4)
      t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          posexplode(transform(toks, w => struct(w.as("word"),
            graft.functions.WordPiece.encodeWord(w, bcV)
              .as("encoded"))))
            .as(Seq("pos", "z")))
        .select(col("doc_id"), (col("pos") + 1).as("word_no"),
          col("z.word").as("word"), col("z.encoded").as("encoded"))
        .withColumn("n_pieces", size(split(col("encoded"), " ")))
        .orderBy("doc_id", "word_no")
    }),

    // the id sequences under WordPiece semantics — encode vocab and id
    // vocab are the SAME table (ids -1-free by construction; [UNK]
    // itself carries id 0), what pointing the engine at a real BERT
    // vocab.txt materializes
    "q301_wordpiece_ids" -> ((s, dir) => {
      val bcV = TextOps.wordpieceVocabBroadcast(s, WpVocab, maxChars = 7)
      val toks = slice(TextOps.wordpieceBasicTokens(col("text")), 1, 4)
      t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          posexplode(transform(toks,
            w => graft.functions.WordPiece.encodeWord(w, bcV)))
            .as(Seq("pos", "enc")))
        .select(col("doc_id"), (col("pos") + 1).as("word_no"),
          graft.functions.WordPiece.idsOf(col("enc"), bcV).as("ids"))
        .select(col("doc_id"), col("word_no"),
          array_join(transform(col("ids"), x => x.cast("string")), " ")
            .as("ids_str"),
          size(col("ids")).as("n_tokens"))
        .orderBy("doc_id", "word_no")
    }),

    // WORDPIECE DECODE — the decode trio's third leg (q298
    // byte-level, q345 metaspace): ##-continuations glue back onto
    // their heads, so every fully-covered word reconstructs EXACTLY
    // and an unk collapse honestly stays [UNK]. The oracle derives
    // the expected decode from the word and the q300 fold's unk
    // verdict — never from the decode under test
    "q348_wordpiece_decode" -> ((s, dir) => {
      val bcV = TextOps.wordpieceVocabBroadcast(s, WpVocab, maxChars = 7)
      val toks = slice(TextOps.wordpieceBasicTokens(col("text")), 1, 4)
      t(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 10 === 7)
        .select(col("doc_id"),
          posexplode(transform(toks, w =>
            graft.functions.WordPiece.encodeWord(w, bcV)))
            .as(Seq("pos", "enc")))
        .select(col("doc_id"), (col("pos") + 1).as("word_no"),
          TextOps.wordpieceDecodeWord(col("enc")).as("decoded"))
        .orderBy("doc_id", "word_no")
    }),

    // BLEU n-gram statistics over the q262 rewrite-pair synthesis
    // (ref = doc, hyp = next doc; %7 self-pairs score p_n = 1 at every
    // level): clipped matches, totals, and modified precisions per
    // (pair, n ≤ 4) — one kernel pass per pair, no gram explode
    "q302_bleu_ngrams" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val nxt = d.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("ntext"))
      TextOps.bleuNgramStats(d.join(nxt, Seq("doc_id"))
          .select(col("doc_id").as("pair_id"), col("text").as("ref"),
            when(col("doc_id") % 7 === 0, col("text"))
              .otherwise(col("ntext")).as("hyp")))
        .orderBy("pair_id", "n")
    }),

    // corpus BLEU over the same pairs — matches and totals summed
    // BEFORE the divisions (the WMT statistic, never an average of
    // sentence BLEUs), sqrt-chain geometric mean and log brevity
    // penalty (both bit-portable; the exp-bearing `bleu` column is
    // spec-gated and dropped here)
    "q303_corpus_bleu" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val nxt = d.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("ntext"))
      TextOps.corpusBleu(d.join(nxt, Seq("doc_id"))
          .select(col("doc_id").as("pair_id"), col("text").as("ref"),
            when(col("doc_id") % 7 === 0, col("text"))
              .otherwise(col("ntext")).as("hyp")))
        .drop("bleu")
    }),

    // Unicode NFC over spliced canonical-equivalence twins: decomposed
    // combining marks (%7=1) and their composed spelling (%7=2)
    // normalize to the SAME bytes and digest; decomposed Hangul jamo
    // (%7=3) composes to the %7=4 syllables; %7=5 is already-NFC
    // Cyrillic and the remaining slots are corpus ASCII (the
    // quick-check fast path) — changed=false for all three. The oracle
    // replays via DuckDB's nfc_normalize (bit-identical tables)
    "q305_unicode_nfc" -> ((s, dir) =>
      t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          nfcFixtureText(col("doc_id"), col("text")).as("raw"))
        .select(col("doc_id"), col("raw"),
          TextOps.nfcNormalize(col("raw")).as("nfc_text"))
        .select(col("doc_id"), col("nfc_text"),
          octet_length(col("nfc_text")).as("n_bytes"),
          (col("raw") =!= col("nfc_text")).as("changed"),
          md5(col("nfc_text")).as("digest"))
        .orderBy("doc_id")),

    // embedding COVARIANCE (upper triangle) — the one corpus pass PCA /
    // whitening needs: a single map-side-combined co-moment aggregation
    // (count + per-dim sums + Σ x_i·x_j in ONE buffer), entries
    // unfolded map-side from the single moment row. Rounded at the
    // query edge (float sums are order-sensitive at the last ulps —
    // the q94 centroid convention)
    "q304_embedding_covariance" -> ((s, dir) =>
      graft.ml.Pca.covarianceMatrix(t(s, dir, "embeddings"), dim = 64)
        .select(col("i"), col("j"), col("n"),
          (round(col("cov"), 6) + lit(0.0)).as("cov6"))
        .orderBy("i", "j")),

    // Z-ORDER (Morton) layout key over two hash-derived dimensions —
    // the multi-column clustering lever behind writeZordered: pure
    // integer shifts/masks on the plan, replayed bit-for-bit by the
    // oracle's generated interleave expression
    "q306_zorder_key" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          // reduce BEFORE the Knuth multiply: (id % 2^16)·40503 stays
          // far under 2^63 for ANY id, where id·2654435761 overflows
          // (divergently across engines) past id ~3.5e9
          pmod(pmod(col("doc_id"), lit(65536L)) * lit(40503L),
            lit(65536L)).as("da"),
          pmod(expr("doc_id div 7"), lit(65536L)).as("db"))
        .withColumn("zkey",
          graft.ops.Layout.mortonKey(Seq(col("da"), col("db")), 16))
        .orderBy("doc_id")),

    // SITEMAP ingestion — the crawl-planning trio's third leg (robots
    // gate, CDX index, sitemap enumeration): synthesized sitemapindex
    // (%11=0) and urlset documents parsed to (entry_no, url, lastmod,
    // kind) rows, all map-side regex in the Java∩RE2 subset the
    // oracle replays verbatim
    "q307_sitemap_entries" -> ((s, dir) =>
      graft.io.Sitemap.sitemapEntries(
          t(s, dir, "documents").select(col("doc_id"),
            sitemapXml(col("doc_id")).as("xml")), "xml")
        .select(col("doc_id"), col("entry_no"), col("url"),
          col("lastmod"), col("kind"))
        .orderBy("doc_id", "entry_no")),

    // CRAWL FRONTIER from sitemaps — the discovery trio composed:
    // sitemap enumeration (urlset docs only; %11 index docs route back
    // to the frontier, not to fetch), REAL robots parsing + longest-
    // match gating (even hosts disallow /p/2), already-captured dedup
    // (/p/1 for %3 hosts), per-host politeness sequence. The synthesis
    // is engineered so the oracle has a CLOSED FORM (the q222 robots
    // convention) while the engine runs the full rule machinery
    "q309_frontier_sitemap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val robots = docs.select(
        concat(lit("d"), col("doc_id").cast("string"),
          lit(".example.com")).as("host"),
        when(col("doc_id") % 2 === 0,
          lit("User-agent: *\nDisallow: /p/2\n"))
          .otherwise(lit("User-agent: *\n")).as("body"))
      val crawled = docs.filter(col("doc_id") % 3 === 0)
        .select(concat(lit("https://d"), col("doc_id").cast("string"),
          lit(".example.com/p/1")).as("url"))
      graft.pipeline.Pipelines.frontierPlan(
          docs.select(sitemapXml(col("doc_id")).as("xml")),
          robots, crawled)
        .select(col("host"), col("fetch_seq"), col("url"))
        .orderBy("host", "fetch_seq")
    }),

    // McNEMAR'S TEST — the paired-eval significance check beside the
    // agreement family (kappa/alpha): only discordant pairs carry
    // signal; continuity-corrected chi-square, exact-integer counts,
    // ONE edge division (the Brier recipe)
    "q319_mcnemar" -> ((s, dir) =>
      ops.Quality.mcnemar(
        t(s, dir, "documents").select(
          (col("doc_id") % 3 =!= 0).cast("int").as("a_correct"),
          (col("doc_id") % 4 =!= 0).cast("int").as("b_correct")))),

    // GROUP-AFFINE packing — the in-context-pretraining layout: the
    // greedy walk visits `source` groups contiguously (md5 order
    // within each), so packs hold related docs; same capacity rule,
    // same shards, only the visit order changes
    "q320_pack_grouped" -> ((s, dir) =>
      TextOps.packSequencesGreedy(t(s, dir, "documents"),
          maxTokens = 512, nShards = 4, groupCol = Some("source"))
        .orderBy("shard", "pack_id", "pack_pos")),

    // BINARY (sign-bit) embedding quantization — 32 bits per BIGINT
    // word, the 32-64x storage cut for the RAM-resident Hamming
    // rerank front; words + popcount summary per vector
    "q321_quantize_binary" -> ((s, dir) =>
      graft.ml.Similarity.quantizeBinary(t(s, dir, "embeddings"))
        .select(col("vec_id"),
          element_at(col("bvec"), 1).as("w0"),
          element_at(col("bvec"), 2).as("w1"),
          aggregate(col("bvec"), lit(0L),
            (acc, w) => acc + bit_count(w).cast("long")).as("n_bits"))
        .orderBy("vec_id")),

    // BINARY ANN serving — Hamming top-5 for a 3-query batch over the
    // sign-quantized corpus: queries broadcast, XOR+popcount scored
    // map-side, bounded TopK state (only queries*k rows shuffle)
    "q322_hamming_topk" -> ((s, dir) => {
      val embsBin = graft.ml.Similarity.quantizeBinary(
        t(s, dir, "embeddings"))
      val queries = embsBin.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("bvec").as("q_bvec"))
      graft.ml.Similarity.hammingTopK(embsBin, queries, k = 5)
        .orderBy("q_id", "rk")
    }),

    // BINARY-IVF ANN — both accelerations composed: IVF coarse pruning
    // (3 probed label clusters), sign-bit Hamming candidates (top-20)
    // over just those clusters, exact cosine ordering the final 10
    "q329_binary_ivf" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val q = queryVec(embs)
      Similarity.binaryIvfTopK(embs, q, 10, "label", nProbe = 3,
          rerankK = 20)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
    }),

    // METASPACE BPE encode — the SentencePiece convention the
    // Llama/T5/Mistral family ships (q294 is the byte-level family):
    // every space becomes ▁, prepend_scheme=always gives EVERY word
    // (including the first — unlike gpt2's bare first word) its
    // leading ▁, and the same 80-merge broadcast-kernel fold runs
    // over ▁-form merges. The oracle rebuilds pre-tokens as
    // '▁' || word (exact on this single-spaced corpus) and replays
    // the fold merge-per-CTE
    "q330_metaspace_encode" -> ((s, dir) => {
      val bcM = TextOps.bpeMergesBroadcast(s, BpeMergesMeta)
      t(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          posexplode(TextOps.bpeEncodeMetaspace(col("text"), bcM))
            .as(Seq("pos", "encoded")))
        .filter(col("pos") < 3)
        .select(col("doc_id"), (col("pos") + 1).as("word_no"),
          col("encoded"))
        .withColumn("n_subwords", size(split(col("encoded"), " ")))
        .orderBy("doc_id", "word_no")
    }),

    // the id sequences under metaspace semantics — what pointing the
    // engine at a Llama-style tokenizer.json materializes; 'q' is
    // deliberately absent from the vocab so q-words exercise the -1
    // OOV path (q295's convention)
    "q331_metaspace_ids" -> ((s, dir) => {
      val bcM = TextOps.bpeMergesBroadcast(s, BpeMergesMeta)
      val bcV = TextOps.bpeVocabBroadcast(s, BpeVocabMeta)
      t(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          posexplode(TextOps.bpeEncodeMetaspace(col("text"), bcM))
            .as(Seq("pos", "encoded")))
        .filter(col("pos") < 3)
        .select(col("doc_id"), (col("pos") + 1).as("word_no"),
          graft.functions.VectorExpressions
            .vocabIds(col("encoded"), bcV).as("ids"))
        .select(col("doc_id"), col("word_no"),
          array_join(transform(col("ids"), x => x.cast("string")), " ")
            .as("ids_str"),
          size(col("ids")).as("n_tokens"),
          size(filter(col("ids"), x => x === -1)).as("n_oov"))
        .orderBy("doc_id", "word_no")
    }),

    // BYTE-FALLBACK ids under metaspace semantics — the Llama pricing
    // of text outside the merge alphabet: same gapped vocab as q331
    // (no 'q') plus the 256 <0xXX> pieces; an OOV symbol expands to
    // its UTF-8 bytes' piece ids instead of -1, so q-words price as
    // byte pieces and nothing in the stream is unk. n_bytes counts
    // the fallback ids (>= the byte base)
    "q346_byte_fallback_ids" -> ((s, dir) => {
      val bcM = TextOps.bpeMergesBroadcast(s, BpeMergesMeta)
      val bcV = TextOps.bpeVocabBroadcast(s, BpeVocabMetaBytes)
      val byteBase = BpeVocabMeta.size
      t(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 10 === 5)
        .select(col("doc_id"),
          posexplode(TextOps.bpeEncodeMetaspace(col("text"), bcM))
            .as(Seq("pos", "encoded")))
        .filter(col("pos") < 3)
        .select(col("doc_id"), (col("pos") + 1).as("word_no"),
          graft.functions.VectorExpressions
            .vocabIdsByteFallback(col("encoded"), bcV).as("ids"))
        .select(col("doc_id"), col("word_no"),
          array_join(transform(col("ids"), x => x.cast("string")), " ")
            .as("ids_str"),
          size(col("ids")).as("n_tokens"),
          size(filter(col("ids"), x => x >= byteBase)).as("n_bytes"))
        .orderBy("doc_id", "word_no")
    }),

    // BYTE-FALLBACK through a SHIPPED FILE — q346's semantics landing
    // where a user actually stands: writeTokenizerJsonBpe ships
    // byte_fallback: true with the gapped vocab + 256 byte pieces,
    // loadTokenizer reads it back, and the loaded encoder's PIECE
    // STREAM carries <0x71> spellings for q-words (what a real Llama
    // tokenizer emits — so budget counting prices OOV text
    // byte-accurately with no special cases)
    "q347_byte_fallback_file" -> ((s, dir) => {
      import graft.text.TokenizerFiles
      val lt = TokenizerFiles.loadTokenizer(s,
        byteFallbackTokenizerPath(s))
      val enc =
        lt.asInstanceOf[TokenizerFiles.ColumnTokenizer].encode
      t(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 10 === 6)
        .select(col("doc_id"),
          posexplode(enc(col("text"))).as(Seq("pos", "encoded")))
        .filter(col("pos") < 3)
        .select(col("doc_id"), (col("pos") + 1).as("word_no"),
          col("encoded"))
        .withColumn("n_subwords", size(split(col("encoded"), " ")))
        .orderBy("doc_id", "word_no")
    }),

    // T5-STYLE unigram segmentation over the METASPACE word domain —
    // the Unigram+Metaspace tokenizer family (q235 is the whitespace
    // family, q330 the BPE+Metaspace one): each word carries its ▁
    // and the substring vocab + Viterbi DP run over the ▁-form
    // alphabet, exactly what loadTokenizer's T5 leg feeds the
    // segmenter
    "q332_metaspace_unigram" -> ((s, dir) => {
      // measured NOT persisted: caching the distinct-word domain for
      // the two consumers (vocab seed, Viterbi DP) pins a 32-partition
      // cache AQE can no longer coalesce — tasks 11 -> 295, 1.5 ->
      // 2.1 s at sf0.1; the duplicate corpus explode is cheaper
      val words = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(explode(TextOps.metaspacePreTokens(lower(col("text"))))
          .as("word"))
        .filter(length(col("word")) > 0)
      val vocab = TextOps.substringVocab(words)
      TextOps.unigramSegment(words, vocab, maxLen = 12).orderBy("word")
    }),

    // SITEMAP SEEDS from robots.txt — the discovery chain's root:
    // hosts announce sitemaps with 'Sitemap:' lines (case-insensitive
    // directive, whitespace tolerated, comments ignored); %3==0 hosts
    // declare two, %3==1 one (mixed case + indent), others none
    "q328_sitemap_seeds" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val robots = docs.select(
        concat(lit("d"), col("doc_id").cast("string"),
          lit(".example.com")).as("host"),
        when(col("doc_id") % 3 === 0,
          concat(lit("User-agent: *\nSitemap: https://d"),
            col("doc_id").cast("string"),
            lit(".example.com/sitemap.xml\nDisallow: /x\n" +
              "Sitemap: https://d"),
            col("doc_id").cast("string"),
            lit(".example.com/news.xml\n")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("User-agent: *\n  sItEmAp:   https://d"),
              col("doc_id").cast("string"),
              lit(".example.com/s1.xml\n# Sitemap: https://nope/x\n")))
          .otherwise(lit("User-agent: *\nDisallow: /q\n")).as("body"))
      graft.pipeline.Pipelines.sitemapSeeds(robots)
        .orderBy("host", "url")
    }),

    // SPEARMAN rank correlation per source — monotone association
    // with average-rank ties (doubled-unit integer ranks, the
    // exactness recipe): judge-vs-human class measurement beside
    // Pearson (q99), kappa, and alpha
    "q326_spearman" -> ((s, dir) =>
      ops.Stats.spearman(
        t(s, dir, "documents").select(col("source"),
          (col("doc_id") * 31 % 101).as("a"),
          ((col("doc_id") * 31 % 101) + (col("doc_id") % 13) * 5)
            .as("b")),
        "a", "b", groupCols = Seq("source"))
        .orderBy("source")),

    // ROC-AUC per source — the threshold-free ranking power of a
    // quality score (q280/q281/q308 measure probability quality; AUC
    // is the number a classifier GATE is chosen by): Mann-Whitney
    // rank statistic with average-rank ties in doubled units, exact
    // integer sums, ONE division. The 13-value score grid forces
    // heavy ties so the tie leg carries real weight
    "q349_roc_auc" -> ((s, dir) =>
      ops.Stats.rocAuc(
        t(s, dir, "documents").select(col("source"),
          (col("doc_id") % 3 === 0).cast("int").as("label"),
          pmod(col("doc_id") * 7, lit(13)).cast("int").as("score")),
        "label", "score", groupCols = Seq("source"))
        .orderBy("source")),

    // GINI concentration of document lengths per source — the
    // inequality number mixing reports lead with (who dominates a
    // source's mass); exact integer sums over the ascending rank
    // window, ONE division
    "q350_gini" -> ((s, dir) =>
      ops.Stats.gini(
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("source"), col("n_chars")),
        "n_chars", groupCols = Seq("source"))
        .orderBy("source")),

    // SALTED PSEUDONYMIZATION — the export-time governance step:
    // deterministic within a release (joins still line up),
    // unlinkable across salt rotations; nulls stay null
    "q327_pseudonymize" -> ((s, dir) =>
      ops.Quality.pseudonymize(
        t(s, dir, "documents").select(col("doc_id"),
          concat(lit("u"), (col("doc_id") % 97).cast("string"))
            .as("user_id"),
          when(col("doc_id") % 7 =!= 0, col("source")).as("src")),
        Seq("user_id", "src"), salt = "rel-2026-08")
        .orderBy("doc_id")),

    // MOJIBAKE REPAIR — the ftfy loop over synthesized UTF-8-as-cp1252
    // damage: Latin-1 accents, cp1252 C1 punctuation, a double-encoded
    // case needing two passes; clean rows untouched. The kernel runs
    // the general encode/decode round trip; the oracle replays the
    // fixture's exact literal repairs (the ASCII base makes the
    // injected sequences the only non-ASCII content)
    "q325_fix_mojibake" -> ((s, dir) => {
      val base = coalesce(col("text"), lit(""))
      val id = col("doc_id")
      val txt = when(id % 5 === 0, concat(base, lit(" cafÃ©")))
        .when(id % 5 === 1,
          concat(base, lit(" donâ€™t")))
        .when(id % 5 === 2,
          concat(base, lit(" naÃ¯ve â€” d")))
        .when(id % 5 === 3,
          concat(base, lit(" cafÃƒÂ©")))
        .otherwise(base)
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.fixMojibake(txt).as("text"))
        .orderBy("doc_id")
    }),

    // HAMMING-ANN RECALL — the q105/q126 measurement convention for
    // the binary family: sign-bit Hamming top-10 vs exact cosine
    // top-10, one (hits, recall) row
    "q324_hamming_recall" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val q = queryVec(embs)
      val bin = Similarity.quantizeBinary(embs)
      val queries = bin.filter(col("vec_id") === 0)
        .select(lit(0L).as("q_id"), col("bvec").as("q_bvec"))
      val approx = Similarity.hammingTopK(bin, queries, 10)
        .select(col("vec_id"))
      Similarity.recallAtK(
        Similarity.bruteForceTopK(embs, typedlit(q), 10), approx, 10)
    }),

    // BINARY-SCAN-THEN-RERANK — the two-stage ANN serving pattern
    // composed: Hamming over sign bits picks 20 candidates per query
    // (the stage that touches every row, pure bit ops), exact cosine
    // on the full vectors orders the final 5 (queries*20 rows only)
    "q323_hamming_rerank" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val queries = embs.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.ml.Similarity.hammingRerank(embs, queries, k = 5,
          rerankK = 20)
        .select(col("q_id"), col("rk"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("q_id", "rk")
    }),

    // BEST-FIT-DECREASING packing — the fill-efficiency packer beside
    // the greedy arrival-order one. The fixture is ENGINEERED for a
    // closed-form oracle: two length classes (700 on %3, 500 else)
    // under a 1200 cap make exact BFD provable — every 700 opens its
    // own pack (700+700 > 1200), 500s tight-fit-pair into them
    // (exact 1200), leftovers pair among themselves — while the
    // engine runs the real TreeMap best-fit machinery
    "q317_pack_bfd" -> ((s, dir) => {
      TextOps.packSequencesBfd(packFixture(s, dir),
          maxTokens = 1200, nShards = 1)
        .orderBy("pack_id", "pack_pos")
    }),

    // GREEDY vs BFD fill report on the same fixture — the pad-fraction
    // comparison that prices the packer choice; the oracle replays
    // greedy with the recursive-walk technique and BFD closed-form
    "q318_pack_compare" -> ((s, dir) => {
      TextOps.packCompare(packFixture(s, dir),
          maxTokens = 1200, nShards = 1)
        .orderBy("packer")
    }),

    // XML ENTITY DECODE in sitemap fields — sitemaps.org REQUIRES
    // escaping inside <loc>, so query-string URLs arrive as
    // ?a=1&amp;b=2 and must decode before any robots/captured join.
    // Fixture exercises named entities, decimal and hex numeric
    // references, and the single-pass rule (&amp;amp; → literal
    // &amp;, never &); the oracle replays the same decode as an
    // ordered literal replace chain (numeric literals first, &amp;
    // LAST — the order that reproduces single-pass semantics)
    "q315_sitemap_unescape" -> ((s, dir) =>
      graft.io.Sitemap.sitemapEntries(
          t(s, dir, "documents").select(col("doc_id"),
            sitemapEscapedXml(col("doc_id")).as("xml")), "xml")
        .select(col("doc_id"), col("entry_no"), col("url"),
          col("lastmod"), col("kind"))
        .orderBy("doc_id", "entry_no")),

    // SITEMAPINDEX LEG of the frontier — index-rooted hosts (the
    // real-world norm) enumerate CHILD SITEMAPS, not pages; the
    // discovery loop must surface those URLs for the next fetch
    // round or the frontier starves. %11 docs are indexes (two
    // children each, second without lastmod); even hosts' sitemap1
    // is already fetched and anti-joins away
    "q316_sitemap_index_leg" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val fetched = docs.filter(col("doc_id") % 2 === 0)
        .select(concat(lit("https://d"), col("doc_id").cast("string"),
          lit(".example.com/sitemap1.xml")).as("url"))
      graft.pipeline.Pipelines.sitemapFrontier(
          docs.select(sitemapXml(col("doc_id")).as("xml")), fetched)
        .orderBy("url")
    }),

    // KRIPPENDORFF'S ALPHA over an incomplete rater×item matrix (4
    // raters, two residue-derived skip rules → variable ratings per
    // item incl. <2 exclusions) — exact integer statistics with the
    // lcm(1..3)=6 weight clearing every 1/(m_u−1), ONE edge division
    "q314_krippendorff" -> ((s, dir) =>
      ops.Quality.krippendorffAlpha(
        t(s, dir, "documents")
          .select(col("doc_id"),
            explode(sequence(lit(0), lit(3))).as("r"))
          .filter(pmod(col("doc_id") + col("r"), lit(4)) =!= 0 &&
            pmod(col("doc_id") + col("r") * 2, lit(5)) =!= 0)
          .select(col("doc_id").as("item_id"),
            pmod(pmod(col("doc_id") * (col("r") + 3), lit(7)), lit(3))
              .as("label")),
        maxRaters = 4)),

    // STAGE-1 GATE AUDIT — the curation funnel: per-gate flag counts,
    // marginal attribution (failing ONLY that gate), and survivors, in
    // ONE conditional-sum aggregation (the q89 DQ-report class)
    "q313_gate_audit" -> ((s, dir) =>
      ops.Quality.gateAudit(t(s, dir, "documents"))
        .orderBy("gate")),

    // CRAWL-DELAY under agent-group scoping — even hosts declare it in
    // the '*' group (graftbot falls through to it), %3 odd hosts in a
    // graftbot-specific group (exact beats wild), everyone else not at
    // all; the oracle is the closed form of that synthesis
    "q312_crawl_delay" -> ((s, dir) => {
      val robots = t(s, dir, "documents").select(
        concat(lit("d"), col("doc_id").cast("string"),
          lit(".example.com")).as("host"),
        when(col("doc_id") % 2 === 0,
          concat(lit("User-agent: *\nCrawl-delay: "),
            (pmod(col("doc_id"), lit(7)) + 1).cast("string"),
            lit("\nDisallow: /x\n")))
          .when(col("doc_id") % 3 === 0,
            lit("User-agent: graftbot\nCrawl-delay: 0.5\n" +
              "Disallow: /y\n\nUser-agent: *\nDisallow: /z\n"))
          .otherwise(lit("User-agent: *\nDisallow: /q\n")).as("body"))
      graft.text.UrlOps.robotsCrawlDelays(robots, agent = "graftbot")
        .orderBy("host")
    }),

    // PAGE METADATA over synthesized heads: title always, canonical on
    // even ids (attribute-order flipped on %4 — both fallback patterns
    // exercised), description on %3, og:title on %5; absent fields
    // come back empty. All map-side regex the oracle replays verbatim
    "q311_html_meta" -> ((s, dir) =>
      t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          TextOps.htmlMeta(htmlHeadSynthesis(col("doc_id"),
            col("text"))).as("m"))
        .select(col("doc_id"), col("m.title").as("title"),
          col("m.canonical").as("canonical"),
          col("m.description").as("description"),
          col("m.og_title").as("og_title"))
        .orderBy("doc_id")),

    // URL KEYWORD gate — C4/CCNet-style substring blocklists as ONE
    // Aho-Corasick pass (cost independent of list size, vs K chained
    // contains): synthesized path segments embed keywords as
    // substrings ('bet' inside 'sportsbet' AND 'alphabet' — substring
    // semantics by design); matches report in keyword-list order
    "q310_url_keywords" -> ((s, dir) => {
      val bc = graft.text.UrlOps.keywordAutomatonBroadcast(s,
        Seq("casino", "poker", "bet"))
      val seg = when(col("doc_id") % 5 === 1, "casino")
        .when(col("doc_id") % 5 === 2, "poker-night")
        .when(col("doc_id") % 5 === 3, "sportsbet")
        .when(col("doc_id") % 5 === 4, "alphabet-soup")
        .otherwise("clean")
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("https://w"), (col("doc_id") % 7).cast("string"),
            lit(".example.com/"), seg, lit("/page")).as("url"))
        .withColumn("m",
          graft.text.UrlOps.urlKeywordMatches(col("url"), bc))
        .select(col("doc_id"), col("url"),
          array_join(col("m"), " ").as("matched"),
          size(col("m")).as("n_matched"),
          (size(col("m")) > 0).as("blocked"))
        .orderBy("doc_id")
    }),

    // BRIER score over the q280 judge-confidence synthesis (k/128-grid
    // confidences): the strictly proper scoring rule beside the
    // reliability diagram — integer sufficient statistics
    // Σ(k − 128·y)², ONE exact sum + one division, bit-portable
    "q308_brier" -> ((s, dir) =>
      ops.Chat.brierScore(t(s, dir, "documents").select(
        (((col("doc_id") * 7) % 129).cast("double") / 128.0)
          .as("confidence"),
        (((col("doc_id") * 13) % 128) < ((col("doc_id") * 7) % 129))
          .cast("int").as("correct"))))
  )

  /** q291/q292's canary tiers: three selection moduli, every tier
    * dense enough to land at every SF. */
  private val CanarySpec: Seq[(String, Int)] =
    Seq("c2" -> 2, "c10" -> 10, "c50" -> 50)

  /** q287/q288's synthesized training telemetry: 8 steps per doc, the
    * four trajectory classes keyed by doc_id%4 (falling / falling-to-
    * floor / sign-balanced alternation / constant), every loss an
    * integer milli-unit. */
  private def lossTelemetry(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(sequence(lit(0), lit(7))).as("step"))
      .select(col("doc_id"), col("step"),
        when(col("doc_id") % 4 === 0,
          lit(3000) - col("step") * 200 +
            pmod(col("doc_id") * (col("step") + 1), lit(7)) * 10)
        .when(col("doc_id") % 4 === 1, lit(750) - col("step") * 100)
        .when(col("doc_id") % 4 === 2,
          lit(2000) +
            when(pmod(col("step"), lit(4)).isin(0, 3), 400)
              .otherwise(-400) +
            pmod(col("doc_id"), lit(5)) * 4)
        .otherwise(lit(1500) + pmod(col("doc_id"), lit(9)) * 2)
          .cast("long").as("loss_milli"))

  /** q289/q290's markdown synthesis: a header per doc, bullets on
    * doc_id%2==0, a tagged fence on %3==0, a link on %5==0, an
    * untagged second fence on %4==0, then the corpus text. */
  private def mdSynthesis(id: Column, text: Column): Column =
    concat(lit("# T"), id.cast("string"), lit("\n"),
      when(id % 2 === 0, lit("- a\n- b\n")).otherwise(lit("")),
      when(id % 3 === 0,
        concat(lit("```python\nprint("), id.cast("string"),
          lit(")\n```\n"))).otherwise(lit("")),
      when(id % 5 === 0, lit("see [x](http://e.com)\n"))
        .otherwise(lit("")),
      when(id % 4 === 0,
        concat(lit("```\nplain "), (id % 7).cast("string"),
          lit("\n```\n"))).otherwise(lit("")),
      coalesce(text, lit("")))

  /** q284/q285's synthesized CDXJ index: the real `urlkey ts {json}`
    * line format with every field a deterministic function of
    * documents; digests collide on doc_id % 50 so the pre-fetch dedup
    * has real work, every 5th row is a 404 so the plan's status gate
    * does too. */
  private def cdxLines(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(concat(
        lit("com,"), col("source"), lit(")/p"), col("doc_id"), lit(" "),
        (lit(20250101000000L) + pmod(col("doc_id"), lit(86400L)))
          .cast("string"),
        lit(" {\"url\": \"https://"), col("source"), lit(".com/p"),
        col("doc_id"),
        lit("\", \"mime\": \"text/html\", \"status\": \""),
        when(col("doc_id") % 5 === 0, lit("404")).otherwise(lit("200")),
        lit("\", \"digest\": \""),
        md5(pmod(col("doc_id"), lit(50L)).cast("string")),
        lit("\", \"length\": \""), col("n_chars").cast("string"),
        lit("\", \"offset\": \""), (col("doc_id") * 1024).cast("string"),
        lit("\", \"filename\": \"crawl-"),
        pmod(col("doc_id"), lit(4L)).cast("string"),
        lit(".warc.gz\"}")).as("line"))

  /** q154's merge list, rank order — the kind of prefix q152's pair
    * statistic produces. Later merges build on earlier outputs
    * ("t h"→"th", then "th e"→"the"). */
  private val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
    "e" -> "r", "o" -> "n", "in" -> "g")

  /** q154's oracle expression: the identical merge fold as chained
    * non-regex `replace` calls over the char-split word. */
  private def bpeOracleExpr(word: String): String =
    BpeMerges.foldLeft(s"array_to_string(string_split($word, ''), ' ')") {
      case (acc, (a, b)) => s"replace($acc, '$a $b', '$a$b')"
    }

  /** q269's merge table: q154's 8 chained merges as the head, then 72
    * generated single-letter pairs (frequency-ordered alphabet, head
    * duplicates excluded) — 80 total, past bpeEncodeAuto's literalMax,
    * so the query exercises the broadcast-kernel route. */
  private val BpeMergesBig: Seq[(String, String)] = {
    val letters = "etaoinshrd"
    val headSet = BpeMerges.toSet
    val gen = for { c1 <- letters; c2 <- letters }
      yield (c1.toString, c2.toString)
    BpeMerges ++ gen.filterNot(headSet.contains).take(72)
  }

  /** q278's vocabulary: every single char the corpus words can contain
    * that the tokenizer "knows" (letters + digits) plus every merged
    * symbol, id = position — deterministic from the same constants on
    * both sides; punctuation chars are deliberately absent so they
    * exercise the -1 OOV path. */
  private val BpeVocab: Seq[(String, Int)] =
    (((('a' to 'z') ++ ('0' to '9')).map(_.toString)) ++
      BpeMergesBig.map { case (a, b) => a + b })
      .distinct.zipWithIndex

  /** q340's SHIPPED TOKENIZER — q269's whitespace-family BPE
    * (BpeMergesBig + BpeVocab) written as a tokenizer.json that
    * DECLARES `normalizer: Sequence(NFKC, Lowercase)`, materialized
    * once per JVM to a unique temp path (the [[fixtureToTemp]]
    * convention — concurrent bench/verify JVMs each write their own
    * copy). The query loads it back through
    * [[graft.text.TokenizerFiles.loadTokenizer]], so the whole
    * read-dispatch-compose chain sits on the oracle path. */
  @volatile private var normTokCache: String = null
  private def normalizerTokenizerPath(s: SparkSession): String = {
    if (normTokCache == null) synchronized {
      if (normTokCache == null) {
        val out = java.nio.file.Files.createTempFile("graft_tok_norm_",
          ".json")
        out.toFile.deleteOnExit()
        graft.text.TokenizerFiles.writeTokenizerJsonBpe(s, out.toString,
          BpeMergesBig, BpeVocab, preTokenizer = "whitespace",
          normalizers = Seq("NFKC", "Lowercase"))
        normTokCache = out.toString
      }
    }
    normTokCache
  }

  /** q341's SHIPPED TOKENIZER — the q154 8-merge whitespace family
    * with the SAME declared normalizer chain as [[
    * normalizerTokenizerPath]], sized so the budget oracle can replay
    * the fold per word over EVERY doc (q154's chained-replace oracle
    * walks the whole corpus; the 80-merge table's per-CTE replay
    * could not). */
  @volatile private var budgetTokCache: String = null
  private def budgetTokenizerPath(s: SparkSession): String = {
    if (budgetTokCache == null) synchronized {
      if (budgetTokCache == null) {
        val out = java.nio.file.Files.createTempFile("graft_tok_budget_",
          ".json")
        out.toFile.deleteOnExit()
        graft.text.TokenizerFiles.writeTokenizerJsonBpe(s, out.toString,
          BpeMerges, BpeVocab, preTokenizer = "whitespace",
          normalizers = Seq("NFKC", "Lowercase"))
        budgetTokCache = out.toString
      }
    }
    budgetTokCache
  }

  /** q343's SHIPPED TOKENIZER — q269's whitespace-family BPE with two
    * declared special `added_tokens` (`<|doc|>`, `<|sep|>`),
    * materialized once per JVM (the [[normalizerTokenizerPath]]
    * convention). The query loads it back through
    * [[graft.text.TokenizerFiles.loadTokenizer]], so the added-token
    * reader, the extraction wrapper, and the writer's added_tokens
    * serialization all sit on the oracle path. */
  @volatile private var addedTokCache: String = null
  private def addedTokenizerPath(s: SparkSession): String = {
    if (addedTokCache == null) synchronized {
      if (addedTokCache == null) {
        val out = java.nio.file.Files.createTempFile("graft_tok_added_",
          ".json")
        out.toFile.deleteOnExit()
        graft.text.TokenizerFiles.writeTokenizerJsonBpe(s, out.toString,
          BpeMergesBig, BpeVocab, preTokenizer = "whitespace",
          addedTokens = Seq("<|doc|>" -> 200L, "<|sep|>" -> 201L))
        addedTokCache = out.toString
      }
    }
    addedTokCache
  }

  /** q344's SHIPPED TOKENIZER — the q154 8-merge whitespace family
    * (the q341 budget sizing argument: the oracle replays the fold per
    * word over EVERY doc) declaring the chat-template role markers as
    * special `added_tokens`, so rendered conversations price with each
    * marker as ONE token even though [[graft.ops.Chat.renderTemplate]]
    * glues them to the content on both sides. */
  @volatile private var chatTokCache: String = null
  private def chatTokenizerPath(s: SparkSession): String = {
    if (chatTokCache == null) synchronized {
      if (chatTokCache == null) {
        val out = java.nio.file.Files.createTempFile("graft_tok_chat_",
          ".json")
        out.toFile.deleteOnExit()
        graft.text.TokenizerFiles.writeTokenizerJsonBpe(s, out.toString,
          BpeMerges, BpeVocab, preTokenizer = "whitespace",
          addedTokens = Seq("<|user|>" -> 300L,
            "<|assistant|>" -> 301L))
        chatTokCache = out.toString
      }
    }
    chatTokCache
  }

  /** q347's SHIPPED TOKENIZER — the Llama shape end to end: q331's
    * metaspace merges + the GAPPED vocab (no bare 'q') + the 256 byte
    * pieces, declaring `byte_fallback: true`; loadTokenizer must come
    * back with the OOV-to-byte-piece rewrite composed, so q-words
    * emit `<0x71>` spellings instead of unk-ish bare symbols. */
  @volatile private var bfTokCache: String = null
  private def byteFallbackTokenizerPath(s: SparkSession): String = {
    if (bfTokCache == null) synchronized {
      if (bfTokCache == null) {
        val out = java.nio.file.Files.createTempFile("graft_tok_bf_",
          ".json")
        out.toFile.deleteOnExit()
        graft.text.TokenizerFiles.writeTokenizerJsonBpe(s, out.toString,
          BpeMergesMeta, BpeVocabMetaBytes, preTokenizer = "metaspace",
          byteFallback = true)
        bfTokCache = out.toString
      }
    }
    bfTokCache
  }

  /** q342's SHIPPED TOKENIZER — q300's WordPiece vocab (maxChars = 7,
    * `[UNK]`) written as a tokenizer.json that DECLARES the composite
    * `BertNormalizer` (the bert-base-uncased shape: clean_text → CJK
    * padding → strip-accents → lowercase), materialized once per JVM
    * (the [[normalizerTokenizerPath]] convention). The query loads it
    * back through [[graft.text.TokenizerFiles.loadTokenizer]], so the
    * BertNormalizer expansion, the parameterized-rule composition, and
    * the WordPiece writer all sit on the oracle path. */
  @volatile private var bertTokCache: String = null
  private def bertTokenizerPath(s: SparkSession): String = {
    if (bertTokCache == null) synchronized {
      if (bertTokCache == null) {
        val out = java.nio.file.Files.createTempFile("graft_tok_bert_",
          ".json")
        out.toFile.deleteOnExit()
        graft.text.TokenizerFiles.writeTokenizerJsonWordPiece(s,
          out.toString, WpVocab, unk = "[UNK]", maxChars = 7,
          bertNormalizer = true)
        bertTokCache = out.toString
      }
    }
    bertTokCache
  }

  /** q294/q295's BYTE-LEVEL merge table: Ġ-form head merges in the
    * shipped GPT-2 `merges.txt` style (fixture_merges.txt's opening
    * ranks) plus generated frequency-alphabet pairs — 80 total, past
    * bpeEncodeAuto's literalMax, so the byte-level queries exercise
    * the broadcast kernel exactly like q269. */
  private val BpeMergesByte: Seq[(String, String)] = {
    val head = Seq("Ġ" -> "t", "Ġ" -> "a", "h" -> "e", "i" -> "n",
      "r" -> "e", "o" -> "n", "Ġt" -> "he", "e" -> "r", "Ġ" -> "s",
      "a" -> "t", "Ġ" -> "w", "Ġ" -> "o", "e" -> "n", "Ġ" -> "c",
      "Ġa" -> "n", "i" -> "t", "Ġw" -> "it")
    val letters = "etaoinshrd"
    val headSet = head.toSet
    val gen = for { c1 <- letters; c2 <- letters }
      yield (c1.toString, c2.toString)
    head ++ gen.filterNot(headSet.contains).take(80 - head.length)
  }

  /** q330/q331's METASPACE merge table: ▁-form head merges in the
    * shipped SentencePiece-BPE style (the Llama family's tokenizer.json
    * writes merges over the ▁ alphabet) plus the same generated
    * frequency-alphabet pairs — 80 total, past bpeEncodeAuto's
    * literalMax, so the metaspace queries exercise the broadcast
    * kernel exactly like q294. */
  private val BpeMergesMeta: Seq[(String, String)] = {
    val head = Seq("▁" -> "t", "▁" -> "a", "h" -> "e", "i" -> "n",
      "r" -> "e", "o" -> "n", "▁t" -> "he", "e" -> "r", "▁" -> "s",
      "a" -> "t", "▁" -> "w", "▁" -> "o", "e" -> "n", "▁" -> "c",
      "▁a" -> "n", "i" -> "t", "▁w" -> "it")
    val letters = "etaoinshrd"
    val headSet = head.toSet
    val gen = for { c1 <- letters; c2 <- letters }
      yield (c1.toString, c2.toString)
    head ++ gen.filterNot(headSet.contains).take(80 - head.length)
  }

  /** q331's metaspace vocabulary: the ▁-alphabet (lowercase letters +
    * `▁`, with 'q' DELIBERATELY absent so q-words exercise the -1 OOV
    * path — q295's convention) plus every merged symbol, id =
    * position. */
  private val BpeVocabMeta: Seq[(String, Int)] =
    ((('a' to 'z').filterNot(_ == 'q').map(_.toString) :+ "▁") ++
      BpeMergesMeta.map { case (a, b) => a + b })
      .distinct.zipWithIndex

  /** q295's byte-level vocabulary: the corpus byte-form alphabet
    * (lowercase letters + `Ġ`, with 'q' DELIBERATELY absent so q-words
    * exercise the -1 OOV path) plus every merged symbol, id =
    * position — deterministic from the same constants on both sides. */
  private val BpeVocabByte: Seq[(String, Int)] =
    ((('a' to 'z').filterNot(_ == 'q').map(_.toString) :+ "Ġ") ++
      BpeMergesByte.map { case (a, b) => a + b })
      .distinct.zipWithIndex

  /** q298's LOSSLESS byte-level vocabulary: the full corpus alphabet
    * (every lowercase letter INCLUDING 'q' — unlike q295's deliberate
    * OOV gap — plus `Ġ`) and every merged symbol; a round-trip needs
    * every symbol decodable. */
  private val BpeVocabByteFull: Seq[(String, Int)] =
    ((('a' to 'z').map(_.toString) :+ "Ġ") ++
      BpeMergesByte.map { case (a, b) => a + b })
      .distinct.zipWithIndex

  /** q345's LOSSLESS metaspace vocabulary — [[BpeVocabByteFull]]'s
    * argument in the ▁ alphabet: every lowercase letter (including
    * 'q', unlike q331's deliberate OOV gap) + `▁` + every merged
    * symbol. */
  private val BpeVocabMetaFull: Seq[(String, Int)] =
    ((('a' to 'z').map(_.toString) :+ "▁") ++
      BpeMergesMeta.map { case (a, b) => a + b })
      .distinct.zipWithIndex

  /** q346's BYTE-FALLBACK vocabulary: q331's gapped vocab (no 'q')
    * plus the 256 `<0xXX>` byte pieces at ids base+byte — the Llama
    * shape, where text outside the merge alphabet prices as byte
    * pieces instead of unk. The base+byte id assignment is the shared
    * closed form the oracle replays via ascii(). */
  private val BpeVocabMetaBytes: Seq[(String, Int)] = {
    val base = BpeVocabMeta.size
    BpeVocabMeta ++ (0 until 256).map(b => (f"<0x$b%02X>", base + b))
  }

  /** q300/q301's WordPiece vocabulary (id = position): the specials,
    * every single-letter start piece, single-letter continuations with
    * `##h` DELIBERATELY absent (so 'hash' exercises the no-match →
    * whole-word [UNK] collapse; the other exclusions never occur
    * word-internally in the corpus), multi-char pieces that exercise
    * greedy longest-match (full words beat their own prefixes — 'row'
    * over 'r'; multi-char heads beat single letters — 'sl'/'que'/
    * 'wind'), and the continuations those heads need. The queries run
    * maxChars = 7, so 'customer' (8 chars) exercises the length guard.
    * Shared verbatim with the oracle's generated match CASEs. */
  private val WpVocab: Seq[(String, Int)] = (
    Seq("[UNK]", "[CLS]", "[SEP]") ++
      ('a' to 'z').map(_.toString) ++
      ('a' to 'z').filterNot(c => "hjqwxyz".contains(c))
        .map(c => "##" + c) ++
      Seq("the", "data", "key", "table", "row", "agg", "big", "part",
        "dup", "que", "wind", "sl", "bat", "cust", "val", "fast") ++
      Seq("##ry", "##ow", "##ch", "##ue", "##all", "##an", "##er")
    ).zipWithIndex

  /** q300/q301's oracle: the greedy longest-match length CASE,
    * generated from [[WpVocab]] (one source of truth with the kernel)
    * — start pieces match verbatim at pos 0, `##`-stripped
    * continuations after, longest length wins. */
  private def wpMatchLenSql: String = {
    val (conts, starts) = WpVocab.map(_._1).partition(_.startsWith("##"))
    def arms(ps: Seq[String]): String =
      ps.groupBy(_.length).toSeq.sortBy(-_._1).map { case (l, g) =>
        s"WHEN substr(word, pos + 1, $l) IN (${
          g.sorted.map(p => s"'$p'").mkString(", ")}) THEN $l"
      }.mkString(" ")
    s"CASE WHEN pos = 0 THEN CASE ${arms(starts)} ELSE 0 END " +
      s"ELSE CASE ${arms(conts.map(_.drop(2)))} ELSE 0 END END"
  }

  /** q300/q301's oracle prelude: basic tokens (the kernel's padding
    * class verbatim — RE2 and java.util.regex read it identically),
    * first-4 word rows, and the greedy-match replay as a recursive
    * CTE. Callers read `enc` (doc_id, word_no, word, encoded) and
    * must open with WITH RECURSIVE. `extraWhere` narrows the source
    * rows (q342's subset — appended verbatim after the null guard). */
  private def wordpieceOracleCtes: String = wordpieceOracleCtesWhere("")
  private def wordpieceOracleCtesWhere(extraWhere: String): String = {
    val pat = TextOps.wordpieceBasicPattern
    s"""wrds AS (
       |  SELECT doc_id, word_no, ws[word_no] AS word
       |  FROM (SELECT doc_id, ws,
       |               CAST(unnest(generate_series(1, least(len(ws), 4)))
       |                 AS INTEGER) AS word_no
       |        FROM (SELECT doc_id,
       |                     list_filter(string_split_regex(
       |                       regexp_replace(lower(text), '$pat',
       |                         ' \\1 ', 'g'), '\\s+'),
       |                       t2 -> len(t2) > 0) AS ws
       |              FROM documents
       |              WHERE text IS NOT NULL$extraWhere))),
       |steps AS (
       |  SELECT doc_id, word_no, word, 0 AS pos, '' AS piece, 0 AS k
       |  FROM wrds WHERE len(word) <= 7
       |  UNION ALL
       |  SELECT doc_id, word_no, word,
       |    CASE WHEN mlen = 0 THEN len(word) ELSE pos + mlen END AS pos,
       |    CASE WHEN mlen = 0 THEN '[UNK]'
       |         WHEN pos = 0 THEN substr(word, pos + 1, mlen)
       |         ELSE '##' || substr(word, pos + 1, mlen) END AS piece,
       |    k + 1 AS k
       |  FROM (SELECT *, $wpMatchLenSql AS mlen FROM steps
       |        WHERE piece <> '[UNK]' AND pos < len(word))),
       |enc0 AS (
       |  SELECT doc_id, word_no,
       |    CASE WHEN bool_or(piece = '[UNK]') THEN '[UNK]'
       |         ELSE string_agg(piece, ' ' ORDER BY k) END AS encoded
       |  FROM steps WHERE k > 0 GROUP BY 1, 2),
       |enc AS (
       |  SELECT w.doc_id, w.word_no, w.word,
       |    CASE WHEN len(w.word) > 7 THEN '[UNK]' ELSE e.encoded END
       |      AS encoded
       |  FROM wrds w LEFT JOIN enc0 e USING (doc_id, word_no))"""
      .stripMargin
  }

  /** q307's sitemap synthesis: doc_id % 11 == 0 rows are sitemapindex
    * documents (two child sitemaps, the second without a lastmod), the
    * rest urlsets with three page entries (the middle one lacking
    * lastmod). Deterministic string concat shared with the oracle. */
  private def sitemapXml(id: Column): Column = {
    val host = concat(lit("https://d"), id.cast("string"),
      lit(".example.com"))
    val mod1 = concat(lit("2026-01-"),
      lpad((pmod(id, lit(28)) + 1).cast("string"), 2, "0"))
    when(pmod(id, lit(11)) === 0,
      concat(lit("<?xml version=\"1.0\"?><sitemapindex><sitemap><loc>"),
        host, lit("/sitemap1.xml</loc><lastmod>"), mod1,
        lit("</lastmod></sitemap><sitemap><loc>"), host,
        lit("/sitemap2.xml</loc></sitemap></sitemapindex>")))
      .otherwise(
        concat(lit("<?xml version=\"1.0\"?><urlset><url><loc>"), host,
          lit("/p/1</loc><lastmod>"), mod1,
          lit("</lastmod></url><url><loc>"), host,
          lit("/p/2</loc></url><url><loc>"), host, lit("/p/"),
          pmod(id, lit(7)).cast("string"), lit("</loc><lastmod>"), mod1,
          lit("</lastmod></url></urlset>")))
  }

  /** q317/q318's two-class packing fixture: exactly 700 whitespace
    * tokens on %3 ids, 500 otherwise — the class mix whose BFD packing
    * has a provable closed form under a 1200-token cap. */
  private def packFixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      array_join(array_repeat(lit("w"),
        when(pmod(col("doc_id"), lit(3)) === 0, 700).otherwise(500)),
        " ").as("text"))

  /** q315's entity-bearing urlset synthesis: entry 1 carries a
    * query-string URL escaped per sitemaps.org (`&amp;`), entry 2
    * decimal+hex numeric references, entry 3 the double-escape
    * single-pass pin (`&amp;amp;` must decode to literal `&amp;`).
    * Deterministic string concat shared with the oracle. */
  private def sitemapEscapedXml(id: Column): Column = {
    val host = concat(lit("https://e"), id.cast("string"),
      lit(".example.com"))
    concat(lit("<?xml version=\"1.0\"?><urlset><url><loc>"), host,
      lit("/p?a="), pmod(id, lit(9)).cast("string"),
      lit("&amp;b=2</loc><lastmod>2026-02-"),
      lpad((pmod(id, lit(28)) + 1).cast("string"), 2, "0"),
      lit("</lastmod></url><url><loc>"), host,
      lit("/q&#47;r&#x2F;s</loc></url><url><loc>"), host,
      lit("/lit&amp;amp;eral</loc></url></urlset>"))
  }

  /** The same synthesis in SQL. */
  private val sitemapEscapedXmlSql: String = {
    val host = "'https://e' || CAST(doc_id AS VARCHAR) || '.example.com'"
    s"""'<?xml version="1.0"?><urlset><url><loc>' || $host ||
       '/p?a=' || CAST(doc_id % 9 AS VARCHAR) ||
       '&amp;b=2</loc><lastmod>2026-02-' ||
       lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
       '</lastmod></url><url><loc>' || $host ||
       '/q&#47;r&#x2F;s</loc></url><url><loc>' || $host ||
       '/lit&amp;amp;eral</loc></url></urlset>'"""
  }

  /** The same synthesis in SQL. */
  private val sitemapXmlSql: String = {
    val host = "'https://d' || CAST(doc_id AS VARCHAR) || '.example.com'"
    val mod1 =
      "'2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')"
    s"""CASE WHEN doc_id % 11 = 0 THEN
       '<?xml version="1.0"?><sitemapindex><sitemap><loc>' || $host ||
       '/sitemap1.xml</loc><lastmod>' || $mod1 ||
       '</lastmod></sitemap><sitemap><loc>' || $host ||
       '/sitemap2.xml</loc></sitemap></sitemapindex>'
       ELSE
       '<?xml version="1.0"?><urlset><url><loc>' || $host ||
       '/p/1</loc><lastmod>' || $mod1 || '</lastmod></url><url><loc>' ||
       $host || '/p/2</loc></url><url><loc>' || $host || '/p/' ||
       CAST(doc_id % 7 AS VARCHAR) || '</loc><lastmod>' || $mod1 ||
       '</lastmod></url></urlset>' END"""
  }

  /** q311's HTML head synthesis — title always, canonical on even ids
    * (href-first attribute order on %4 = 0, rel-first otherwise),
    * description on %3, og:title on %5, then the corpus text as body.
    * Shared with the oracle. */
  private def htmlHeadSynthesis(id: Column, text: Column): Column =
    concat(lit("<html><head><title>Doc "), id.cast("string"),
      lit("</title>"),
      when(pmod(id, lit(4)) === 0,
        concat(lit("<link href=\"https://c"), id.cast("string"),
          lit(".example.com/x\" rel=\"canonical\">")))
        .when(pmod(id, lit(2)) === 0,
          concat(lit("<link rel=\"canonical\" href=\"https://c"),
            id.cast("string"), lit(".example.com/x\">")))
        .otherwise(lit("")),
      when(pmod(id, lit(3)) === 0,
        concat(lit("<meta name=\"description\" content=\"summary "),
          id.cast("string"), lit("\">"))).otherwise(lit("")),
      when(pmod(id, lit(5)) === 0,
        concat(lit("<meta property=\"og:title\" content=\"OG "),
          id.cast("string"), lit("\">"))).otherwise(lit("")),
      lit("</head><body>"), text, lit("</body></html>"))

  /** The same synthesis in SQL. */
  private val htmlHeadSynthesisSql: String =
    """'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      |'</title>' ||
      |CASE WHEN doc_id % 4 = 0 THEN
      |  '<link href="https://c' || CAST(doc_id AS VARCHAR) ||
      |  '.example.com/x" rel="canonical">'
      |WHEN doc_id % 2 = 0 THEN
      |  '<link rel="canonical" href="https://c' ||
      |  CAST(doc_id AS VARCHAR) || '.example.com/x">'
      |ELSE '' END ||
      |CASE WHEN doc_id % 3 = 0 THEN
      |  '<meta name="description" content="summary ' ||
      |  CAST(doc_id AS VARCHAR) || '">' ELSE '' END ||
      |CASE WHEN doc_id % 5 = 0 THEN
      |  '<meta property="og:title" content="OG ' ||
      |  CAST(doc_id AS VARCHAR) || '">' ELSE '' END ||
      |'</head><body>' || text || '</body></html>'"""
      .stripMargin.replace("\n", " ")

  /** q305's Unicode synthesis: canonical-equivalence twins spliced over
    * doc_id % 7 — decomposed combining marks and their composed
    * spelling, decomposed Hangul jamo and its composed syllables,
    * already-NFC Cyrillic; remaining slots keep corpus prose (the
    * quick-check ASCII fast path). Shared verbatim with the oracle. */
  private val NfcFixtures: Seq[(Int, String)] = Seq(
    1 -> "café münchen resumé",
    2 -> "café münchen resumé",
    3 -> "한글 jamo",
    4 -> "한글 jamo",
    5 -> "русский текст здесь")

  /** The q305 synthesis as a Column — CASE over doc_id % 7. */
  private def nfcFixtureText(docId: Column, text: Column): Column =
    NfcFixtures.foldLeft(Option.empty[Column]) { case (acc, (m, s2)) =>
      val cond = pmod(docId, lit(7)) === m
      Some(acc.fold(when(cond, lit(s2)))(_.when(cond, lit(s2))))
    }.get.otherwise(text)

  /** The same synthesis in SQL. */
  private def nfcFixtureSql: String =
    "CASE " + NfcFixtures.map { case (m, s2) =>
      s"WHEN doc_id % 7 = $m THEN '$s2'" }.mkString(" ") +
      " ELSE text END"

  /** q302/q303's oracle prelude: the q262 pair synthesis tokenized to
    * word arrays, per-n gram counts both sides, clipped overlaps, and
    * per-(pair, n) totals. Callers read `lv`
    * (id, n, o, ref_total, hyp_total). */
  private val bleuOracleCtes: String =
    """d0 AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      |nxt AS (SELECT doc_id - 1 AS doc_id, text AS ntext FROM d0),
      |pr AS (
      |  SELECT d0.doc_id AS id,
      |    list_filter(string_split_regex(lower(trim(d0.text)), '\s+'),
      |      t2 -> len(t2) > 0) AS rw,
      |    list_filter(string_split_regex(lower(trim(
      |      CASE WHEN d0.doc_id % 7 = 0 THEN d0.text ELSE nxt.ntext
      |      END)), '\s+'), t2 -> len(t2) > 0) AS hw
      |  FROM d0 JOIN nxt USING (doc_id)),
      |nn AS (SELECT CAST(unnest(generate_series(1, 4)) AS INTEGER) AS n),
      |rg AS (
      |  SELECT id, n, array_to_string(rw[i:i+n-1], ' ') AS g FROM (
      |    SELECT id, rw, n,
      |      CAST(unnest(generate_series(1, len(rw) - n + 1)) AS INTEGER)
      |        AS i
      |    FROM pr CROSS JOIN nn WHERE len(rw) >= n)),
      |rc AS (SELECT id, n, g, count(*) AS rcn FROM rg GROUP BY 1, 2, 3),
      |hg AS (
      |  SELECT id, n, array_to_string(hw[i:i+n-1], ' ') AS g FROM (
      |    SELECT id, hw, n,
      |      CAST(unnest(generate_series(1, len(hw) - n + 1)) AS INTEGER)
      |        AS i
      |    FROM pr CROSS JOIN nn WHERE len(hw) >= n)),
      |hc AS (SELECT id, n, g, count(*) AS hcn FROM hg GROUP BY 1, 2, 3),
      |ov AS (
      |  SELECT id, n, CAST(sum(least(rcn, hcn)) AS BIGINT) AS o
      |  FROM rc JOIN hc USING (id, n, g) GROUP BY 1, 2),
      |lv AS (
      |  SELECT p.id, b.n,
      |    CAST(coalesce(o.o, 0) AS BIGINT) AS o,
      |    CAST(greatest(len(p.rw) - b.n + 1, 0) AS BIGINT) AS ref_total,
      |    CAST(greatest(len(p.hw) - b.n + 1, 0) AS BIGINT) AS hyp_total
      |  FROM pr p CROSS JOIN nn b
      |  LEFT JOIN ov o ON o.id = p.id AND o.n = b.n)""".stripMargin

  /** q296/q297's multilingual synthesis: one fixed sentence per
    * profiled language, spliced over doc_id % 14 (the two remaining
    * slots keep the original corpus prose, exercising the router's
    * verdict on plain text). Shared verbatim with the oracle; all
    * non-ASCII is already lowercase so `lower()` parity is trivial. */
  private val LangFixtures: Seq[(String, String)] = Seq(
    "en" -> "The little children are walking through the garden of dreams",
    "de" -> "der schnelle zug und die alte brücke sind ein gutes beispiel",
    "fr" -> "les enfants que nous avons vus sont arrivés en retard et heureux",
    "es" -> "la canción de los niños españoles está llena de emoción",
    "pt" -> "a canção e as lições não estão em condições normais",
    "it" -> "la stazione della regione è vicina agli alberghi di milano",
    "nl" -> "het oude huis van mijn vader is een mooi voorbeeld geweest",
    "ru" -> "что это новая история о людях и времени",
    "ar" -> "هذا النص مكتوب في اللغة العربية من أجل الاختبار",
    "zh" -> "这是一个用于测试的中文句子内容很简单",
    "ja" -> "これはにほんごのぶんしょうですとてもたのしいです",
    "ko" -> "이것은 한국어 문장입니다 테스트를 위하여 작성하였습니다")

  /** The q296 synthesis as a Column — CASE over doc_id % 14. */
  private def multiLangText(docId: Column, text: Column): Column = {
    val m = pmod(docId, lit(14))
    LangFixtures.zipWithIndex.foldLeft(Option.empty[Column]) {
      case (acc, ((_, sent), i)) =>
        val cond = m === (i + 1)
        Some(acc.fold(when(cond, lit(sent)))(_.when(cond, lit(sent))))
    }.get.otherwise(text)
  }

  /** The same synthesis in SQL. */
  private def multiLangTextSql: String =
    "CASE " + LangFixtures.zipWithIndex.map { case ((_, sent), i) =>
      s"WHEN doc_id % 14 = ${i + 1} THEN '$sent'"
    }.mkString(" ") + " ELSE text END"

  /** q296's oracle prelude: the profile table as VALUES (one source of
    * truth — generated from [[graft.functions.LangIdMulti.Profiles]]),
    * the length-delta occurrence count (≡ the kernel's scan: profile
    * grams are borderless by class-load validation), and the
    * (score DESC, profile order) argmax. Callers read `routed`
    * (doc_id, lang, score — 'und' zeros applied). */
  private def langIdOracleCtes: String = {
    val profVals = graft.functions.LangIdMulti.Profiles.zipWithIndex
      .flatMap { case ((lang, gs), li) =>
        gs.map { case (g, w) => s"('$lang', $li, '$g', $w)" }
      }.mkString(", ")
    s"""syn AS (
       |  SELECT doc_id, $multiLangTextSql AS text
       |  FROM documents WHERE text IS NOT NULL),
       |pad AS (
       |  SELECT doc_id, concat(' ', lower(text), ' ') AS t FROM syn),
       |prof(lang, rnk, g, w) AS (VALUES $profVals),
       |sc AS (
       |  SELECT p.doc_id, f.lang, f.rnk,
       |         sum(f.w * (len(p.t) - len(replace(p.t, f.g, '')))
       |             / len(f.g)) AS score
       |  FROM pad p CROSS JOIN prof f GROUP BY 1, 2, 3),
       |ag AS (
       |  SELECT doc_id, lang, CAST(score AS BIGINT) AS score,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY score DESC, rnk) AS rn
       |  FROM sc),
       |routed AS (
       |  SELECT doc_id,
       |         CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang,
       |         CASE WHEN score > 0 THEN score
       |              ELSE CAST(0 AS BIGINT) END AS score
       |  FROM ag WHERE rn = 1)""".stripMargin
  }

  /** q269's oracle CTE chain: the kernel's fold replayed merge-by-merge
    * with the boundary-aware doubled-space transcription of
    * [[graft.text.TextOps.mergeAdjacentPair]] (the bare-replace form
    * q154 uses is only safe for its specific 8 merges; multi-char
    * symbols in an 80-merge table need real symbol boundaries). ONE CTE
    * LAYER PER MERGE — a single nested expression trips DuckDB's
    * 128-deep binder recursion limit at 80 merges. */
  private def bpeKernelOracleCtes: String = bpeMergeCtes(BpeMergesBig)

  /** The same merge-per-CTE replay over an arbitrary merge table
    * (q294/q295 reuse it with the BYTE-LEVEL table — the fold is
    * alphabet-agnostic). */
  private def bpeMergeCtes(merges: Seq[(String, String)]): String =
    merges.zipWithIndex.map { case ((a, b), i) =>
      // concat(), not ||: the caller's stripMargin would eat one pipe
      // from a line-leading `||`
      s"""m$i AS (
         |  SELECT doc_id, word_no,
         |    trim(regexp_replace(replace(concat(' ',
         |      replace(enc, ' ', '  '), ' '), ' $a  $b ', ' $a$b '),
         |      ' {2,}', ' ', 'g')) AS enc
         |  FROM ${if (i == 0) "mbase" else s"m${i - 1}"})""".stripMargin
    }.mkString(",\n")

  /** q155/q158's synthesized registrable-domain link graph: a 10-node
    * ring (k → k+1) plus three chords (k → k+3 for k ∈ {0,2,4}) —
    * asymmetric (a src/dst swap changes the answer) with every
    * outdegree a power of two (the q155 exactness precondition). */
  private def domainEdges(docs: DataFrame): DataFrame = {
    val k = col("doc_id") % 10
    val e1 = docs.select(concat(lit("d"), k).as("src"),
      concat(lit("d"), (k + 1) % 10).as("dst"))
    val e2 = docs.filter(k.isin(0, 2, 4))
      .select(concat(lit("d"), k).as("src"),
        concat(lit("d"), (k + 3) % 10).as("dst"))
    e1.unionAll(e2)
  }

  /** q74's query-term bag (vocabulary members with contrasting df). */
  private val Bm25Terms: Seq[String] = Seq("spark", "window", "dup")

  /** q146's second query formulation — overlaps q74's bag on the rare
    * 'dup' term so the two runs agree on some documents and disagree on
    * others (the regime rank fusion exists for). */
  private val RrfTermsB: Seq[String] = Seq("vector", "merge", "dup")

  /** q150's synthesized license headers, indexed by doc_id % 5 (the last
    * class ships no header and must tag 'unknown'). */
  private val LicenseHeaders: Seq[String] = Seq(
    "Licensed under the Apache License, Version 2.0. ",
    "Released under the MIT License. ",
    "This work is licensed under a Creative Commons Attribution 4.0 License. ",
    "GNU General Public License: this program is free software. ",
    "")

  /** q64's target mixture (fractions sum to 1; src2 is deliberately
    * over-asked so it binds and keeps everything). */
  private val MixtureShares: Map[String, Double] =
    Map("src0" -> 0.3, "src1" -> 0.3, "src2" -> 0.4)

  // ----------------------------------------------------------------------
  // DuckDB oracles — identical column names/ordering as the Spark side
  // ----------------------------------------------------------------------

  private val enStopList = TextOps.EnStopwords
    .map(w => s"'$w'").mkString(", ")

  /** [[shingleHashCte]] over an arbitrary (doc_id, text) relation. */
  private def shingleHashCteFrom(src: String): String =
    s"""toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM $src),""".stripMargin +
      shingleHashCteTail

  /** Shared oracle CTE: distinct lowercase word-3-gram shingles with the
    * portable 60-bit md5-prefix hash (graft.functions.MinHashParams
    * .shingleHashPortable's SQL equivalent). */
  private val shingleHashCte =
    """toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),""".stripMargin +
      shingleHashCteTail

  private def shingleHashCteTail: String =
    """
      |sh AS (
      |  SELECT doc_id,
      |         CASE WHEN len(tk) >= 3 THEN
      |           list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
      |                          FOR i IN generate_series(1, len(tk) - 2)])
      |         ELSE [array_to_string(tk, ' ')] END AS sh
      |  FROM toks),
      |hx AS (
      |  SELECT doc_id,
      |         ('0x' || substr(md5(s), 1, 15))::BIGINT AS h60
      |  FROM (SELECT doc_id, unnest(sh) AS s FROM sh))""".stripMargin

  /** Shared CTE chain for the portable MinHash→LSH candidate pipeline
    * (16-hash signature, 4 bands of 4): `sig` (per-doc min-hashes),
    * `band`, and `cand` (distinct candidate id pairs). Prefix with
    * [[shingleHashCte]]. */
  /** The per-doc 16-hash signature CTEs (`h`, `sig`) alone — shared by
    * [[minhashCandCtes]] and the stored-index oracle (q196). Depends on
    * a preceding `hx` CTE ([[shingleHashCte]] family). */
  private def minhashSigCtes: String = {
    import graft.functions.MinHashParams.{P, hashParams}
    val numHashes = 16
    val minCols = (0 until numHashes).map { k =>
      val (a, b) = hashParams(k)
      s"min(($a * h + $b) % $P) AS m$k"
    }.mkString(",\n         ")
    s"""h AS (SELECT doc_id, h60 % $P AS h FROM hx),
       |sig AS (
       |  SELECT doc_id,
       |         $minCols
       |  FROM h GROUP BY doc_id)""".stripMargin
  }

  /** The per-band bucket-key selects over `sig` (4 bands of 4), shared
    * by every LSH oracle. */
  private def minhashBandSelects: String = {
    val bands = 4; val rows = 4
    (0 until bands).map { bd =>
      val ms = (bd * rows until (bd + 1) * rows).map(k => s"m$k")
        .mkString(", ")
      s"  SELECT doc_id, $bd AS band, concat_ws(',', $ms) AS key FROM sig"
    }.mkString("\n  UNION ALL\n")
  }

  private def minhashCandCtes: String =
    s"""$minhashSigCtes,
       |band AS (
       |$minhashBandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM band a JOIN band b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin

  /** q24 oracle: the full portable MinHash→LSH pipeline in SQL — candidate
    * pairs plus est_jaccard = matching signature positions / 16. */
  private def minhashOracle: String = {
    val matchSum = (0 until 16).map(k =>
      s"CASE WHEN sa.m$k = sb.m$k THEN 1 ELSE 0 END").mkString("\n         + ")
    s"""WITH $shingleHashCte,
       |$minhashCandCtes
       |SELECT id_a, id_b,
       |       round(($matchSum) / 16.0, 6) AS est_jaccard
       |FROM cand
       |JOIN sig sa ON sa.doc_id = id_a
       |JOIN sig sb ON sb.doc_id = id_b
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q196 oracle: the stored-index batch path replayed from first
    * principles — corpus/batch signatures from the SAME portable
    * hashing, band-bucket candidates (corpus × batch only), the
    * signature-estimated Jaccard verdict, and the anti-join. The
    * composite 2k/2k+1 id space mirrors the tagged-union convention so
    * corpus and batch doc_ids may overlap. */
  private def storedFuzzyOracle: String = {
    val matchSum = (0 until 16).map(k =>
      s"CASE WHEN sa.m$k = sb.m$k THEN 1 ELSE 0 END").mkString("\n         + ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0),
       |nxt AS (SELECT doc_id - 1 AS doc_id, text AS ntext FROM documents),
       |batch AS (
       |  SELECT d.doc_id,
       |         CASE WHEN d.doc_id % 8 = 0 AND n.ntext IS NOT NULL
       |              THEN n.ntext ELSE d.text END AS text
       |  FROM documents d LEFT JOIN nxt n USING (doc_id)
       |  WHERE d.doc_id % 4 = 0),
       |du AS (SELECT doc_id * 2 AS doc_id, text FROM corpus
       |       UNION ALL SELECT doc_id * 2 + 1, text FROM batch),
       |${shingleHashCteFrom("du")},
       |$minhashSigCtes,
       |band AS (
       |$minhashBandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS cid, b.doc_id AS bid
       |  FROM band a JOIN band b ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
       |drp AS (
       |  SELECT DISTINCT (bid - 1) // 2 AS doc_id
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = cid
       |  JOIN sig sb ON sb.doc_id = bid
       |  WHERE ($matchSum) / 16.0 >= 0.5)
       |SELECT b.doc_id FROM batch b
       |LEFT JOIN drp ON drp.doc_id = b.doc_id
       |WHERE drp.doc_id IS NULL
       |ORDER BY b.doc_id""".stripMargin
  }

  /** q207/q208's winnowing CTE chain (`d`…`sp`) over an arbitrary
    * (doc_id, text) relation: per-position 8-gram md5s, window starts,
    * per-window min hash and its rightmost holder. */
  private def winnowingCtesFrom(src: String): String =
    s"""d AS (
       |  SELECT doc_id, text AS t FROM $src WHERE text IS NOT NULL),
       |pos AS (
       |  SELECT doc_id, i, md5(substr(t, i, 8)) AS h
       |  FROM (SELECT doc_id, t,
       |          unnest(generate_series(1, greatest(len(t) - 7, 1))) AS i
       |        FROM d)),
       |np AS (SELECT doc_id, max(i) AS n FROM pos GROUP BY doc_id),
       |win AS (
       |  SELECT np.doc_id, unnest(generate_series(1,
       |           greatest(np.n - 8 + 1, 1))) AS j
       |  FROM np),
       |cand AS (
       |  SELECT w.doc_id, w.j, p.i, p.h
       |  FROM win w JOIN pos p
       |    ON p.doc_id = w.doc_id AND p.i BETWEEN w.j AND w.j + 7),
       |sel AS (SELECT doc_id, j, min(h) AS mh FROM cand GROUP BY 1, 2),
       |sp AS (
       |  SELECT c.doc_id, c.j, max(c.i) AS pos
       |  FROM cand c JOIN sel s
       |    ON s.doc_id = c.doc_id AND s.j = c.j AND c.h = s.mh
       |  GROUP BY 1, 2)""".stripMargin

  /** q204/q205's turn-synthesis CTEs (`w`, `turns`) over an arbitrary
    * (doc_id, text) relation — the SQL twin of [[chatTurnsOf]]. */
  private def chatTurnsCtesFrom(src: String): String =
    s"""w AS (
       |  SELECT doc_id,
       |         list_filter(string_split(text, ' '), x -> len(x) > 0)
       |           AS ws
       |  FROM $src WHERE text IS NOT NULL),
       |turns AS (
       |  SELECT doc_id, k,
       |         CASE WHEN k % 2 = 0 THEN 'user' ELSE 'assistant' END
       |           AS role,
       |         array_to_string(ws[(k*5+1):(k*5+5)], ' ') AS content
       |  FROM w, (SELECT unnest(generate_series(0, 3)) AS k)
       |  WHERE len(array_to_string(ws[(k*5+1):(k*5+5)], ' ')) > 0)""".stripMargin

  private def chatTurnsCtes: String = chatTurnsCtesFrom("documents")

  /** q217/q218 oracle prelude: 3 GD iterations unrolled — hashed
    * features (q148's CTE), the ≥25-token weak label, hard-sigmoid
    * residuals on the 2^-12 floor grid, dyadic 2^-20 learning rate.
    * Every value is an exact dyadic rational, so the weights hash
    * bit-for-bit. */
  private def logisticTrainCtes: String = {
    def iter(i: Int): String = {
      val (pw, gw) = (s"w${i - 1}", s"g$i")
      s"""p$i AS (
         |  SELECT doc_id, sum(n * w) AS p
         |  FROM fl JOIN $pw USING (bucket) GROUP BY doc_id),
         |r$i AS (
         |  SELECT lab.doc_id,
         |         floor((greatest(0.0, least(1.0,
         |             coalesce(p, 0) * 0.25 + 0.5)) - y) * 4096 + 0.5)
         |           / 4096 AS r
         |  FROM lab LEFT JOIN p$i USING (doc_id)),
         |$gw AS (
         |  SELECT bucket, sum(n * r) AS g
         |  FROM fl JOIN r$i USING (doc_id) GROUP BY bucket),
         |w$i AS (
         |  SELECT $pw.bucket, w - g / 1048576.0 AS w
         |  FROM $pw JOIN $gw USING (bucket))""".stripMargin
    }
    s"""f AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(t), 1, 8))::BIGINT % 64 AS bucket,
       |         count(*) AS n
       |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
       |        FROM documents WHERE text IS NOT NULL)
       |  WHERE len(t) > 0 GROUP BY 1, 2),
       |lab AS (
       |  SELECT doc_id,
       |         CASE WHEN len(string_split(coalesce(text, ''), ' ')) >= 25
       |              THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents),
       |fl AS (
       |  SELECT f.doc_id, f.bucket, f.n, lab.y
       |  FROM f JOIN lab USING (doc_id)),
       |r1 AS (
       |  SELECT doc_id, floor((0.5 - y) * 4096 + 0.5) / 4096 AS r
       |  FROM lab),
       |g1 AS (
       |  SELECT bucket, sum(n * r) AS g
       |  FROM fl JOIN r1 USING (doc_id) GROUP BY bucket),
       |w1 AS (SELECT bucket, -g / 1048576.0 AS w FROM g1),
       |${iter(2)},
       |${iter(3)}""".stripMargin
  }

  /** q197 oracle: the BPE trainer's first 3 merges unrolled — word
    * frequencies, per-round adjacent-pair counts over the spaced-symbol
    * strings, the (cnt DESC, lhs, rhs) argmax, and the same
    * boundary-aware doubled-space rewrite between rounds
    * ([[graft.text.TextOps.mergeAdjacentPair]], replayed literally).
    * Exact integers throughout. */
  /** One unrolled trainer round (pair count → argmax → boundary-aware
    * rewrite) — shared by the whitespace (q197) and byte-level (q299)
    * trainer oracles; the loop is alphabet-agnostic. */
  private def bpeTrainRoundCte(i: Int): String = {
    val src = s"s${i - 1}"
    s"""p$i AS (
       |  SELECT syms[i] AS lhs, syms[i + 1] AS rhs,
       |         CAST(sum(n) AS BIGINT) AS cnt
       |  FROM (
       |    SELECT syms, n,
       |           unnest(generate_series(1, len(syms) - 1)) AS i
       |    FROM (SELECT string_split(s, ' ') AS syms, n FROM $src)
       |    WHERE len(syms) > 1)
       |  GROUP BY 1, 2),
       |m$i AS (SELECT lhs, rhs, cnt FROM p$i
       |        ORDER BY cnt DESC, lhs, rhs LIMIT 1),
       |s$i AS (SELECT trim(regexp_replace(
       |          replace(' ' || replace(s, ' ', '  ') || ' ',
       |                  ' ' || lhs || '  ' || rhs || ' ',
       |                  ' ' || lhs || rhs || ' '),
       |          ' {2,}', ' ', 'g')) AS s, n
       |        FROM $src CROSS JOIN m$i)""".stripMargin
  }

  private def bpeTrainOracle: String = {
    def round(i: Int): String = bpeTrainRoundCte(i)
    s"""WITH w0 AS (
       |  SELECT t AS w, count(*) AS n FROM (
       |    SELECT unnest(list_filter(string_split(lower(text), ' '),
       |           t -> len(t) > 1)) AS t
       |    FROM documents WHERE text IS NOT NULL)
       |  GROUP BY t),
       |s0 AS (
       |  SELECT array_to_string(string_split(w, ''), ' ') AS s, n FROM w0),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT CAST(1 AS INTEGER) AS merge_rank, lhs, rhs, cnt AS n_pairs
       |FROM m1
       |UNION ALL
       |SELECT CAST(2 AS INTEGER), lhs, rhs, cnt FROM m2
       |UNION ALL
       |SELECT CAST(3 AS INTEGER), lhs, rhs, cnt FROM m3
       |ORDER BY merge_rank""".stripMargin
  }

  /** Shared CTE chain for the near-dup pipeline oracles (q56, q76):
    * [[minhashCandCtes]] → exact Jaccard verification on the candidate
    * pairs only → recursive-CTE connected components (q41's shape) ending
    * in `comp(u, m)` = (doc, min-id cluster). Prefix with
    * `WITH RECURSIVE`. */
  private def neardupCompCtes: String =
    s"""$shingleHashCte,
       |$minhashCandCtes,
       |inv AS (
       |  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM sh),
       |verified AS (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c
       |  JOIN inv a ON a.doc_id = c.id_a
       |  JOIN inv b ON b.doc_id = c.id_b AND b.shingle = a.shingle
       |  GROUP BY c.id_a, c.id_b, a.n_sh, b.n_sh
       |  HAVING CAST(count(*) AS DOUBLE) / (a.n_sh + b.n_sh - count(*)) >= 0.4),
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM verified
       |  UNION SELECT id_b, id_a FROM verified),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |comp AS (
       |  SELECT u, min(v) AS m FROM (
       |    SELECT u, v FROM reach
       |    UNION SELECT doc_id, doc_id FROM documents) GROUP BY u)""".stripMargin

  /** q56 oracle: the whole scalable near-dup pipeline, end to end in SQL. */
  private def neardupPipelineOracle: String =
    s"""WITH RECURSIVE $neardupCompCtes
       |SELECT d.doc_id, comp.m AS cluster_id
       |FROM documents d JOIN comp ON d.doc_id = comp.u
       |ORDER BY d.doc_id""".stripMargin

  /** q76 oracle: [[neardupCompCtes]] + longest-doc-wins representative
    * ranking per cluster (tie → min id). */
  private def neardupKeepBestOracle: String =
    s"""WITH RECURSIVE $neardupCompCtes,
       |clustered AS (
       |  SELECT d.doc_id, comp.m AS cluster_id, len(d.text) AS tl
       |  FROM documents d JOIN comp ON d.doc_id = comp.u),
       |ranked AS (
       |  SELECT doc_id, cluster_id,
       |         CAST(row_number() OVER (PARTITION BY cluster_id
       |              ORDER BY tl DESC, doc_id) AS INTEGER) AS rk
       |  FROM clustered)
       |SELECT doc_id, cluster_id, rk,
       |       CASE WHEN rk = 1 THEN 1 ELSE 0 END AS keep
       |FROM ranked ORDER BY doc_id""".stripMargin

  /** q25 oracle: portable 60-bit SimHash in SQL — per-bit ±1 sums, sign
    * bits re-assembled, Manku 4-block candidate join, exact Hamming
    * verification. */
  private def simhashOracle: String = {
    val bitSums = (0 until 60).map(i =>
      s"sum(CASE WHEN (h60 >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n         ")
    val fpTerms = (0 until 60).map(i =>
      s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END").mkString("\n       + ")
    val blockSelects = (0 until 4).map(b =>
      s"  SELECT doc_id, fp, $b AS block, (fp >> ${b * 15}) & 32767 AS key" +
        " FROM fp").mkString("\n  UNION ALL\n")
    s"""WITH $shingleHashCte,
       |bits AS (
       |  SELECT doc_id,
       |         $bitSums
       |  FROM hx GROUP BY doc_id),
       |fp AS (
       |  SELECT doc_id,
       |       $fpTerms AS fp
       |  FROM bits),
       |blocks AS (
       |$blockSelects)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
       |FROM blocks a JOIN blocks b
       |  ON a.block = b.block AND a.key = b.key AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.fp, b.fp)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q246 oracle: the staged cascade — exact digest owners, normalized
    * digest owners among their survivors, then the full q25 SimHash
    * machinery over the stage-2 survivor relation only. */
  private def cascadeOracle: String = {
    val bitSums = (0 until 60).map(i =>
      s"sum(CASE WHEN (h60 >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n         ")
    val fpTerms = (0 until 60).map(i =>
      s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END").mkString("\n       + ")
    val blockSelects = (0 until 4).map(b =>
      s"  SELECT doc_id, fp, $b AS block, (fp >> ${b * 15}) & 32767 AS key" +
        " FROM fp").mkString("\n  UNION ALL\n")
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |o1 AS (SELECT md5(text) AS fp1, min(doc_id) AS own1
       |       FROM d GROUP BY 1),
       |j1 AS (SELECT d.doc_id, d.text, o1.own1
       |       FROM d JOIN o1 ON o1.fp1 = md5(d.text)),
       |s1 AS (SELECT doc_id, text FROM j1 WHERE doc_id = own1),
       |o2 AS (SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))
       |         AS fp2, min(doc_id) AS own2
       |       FROM s1 GROUP BY 1),
       |j2 AS (SELECT s1.doc_id, s1.text, o2.own2
       |       FROM s1 JOIN o2 ON o2.fp2 =
       |         md5(regexp_replace(lower(s1.text), '\\s+', ' ', 'g'))),
       |s2 AS (SELECT doc_id, text FROM j2 WHERE doc_id = own2),
       |${shingleHashCteFrom("s2")},
       |bits AS (
       |  SELECT doc_id,
       |         $bitSums
       |  FROM hx GROUP BY doc_id),
       |fp AS (
       |  SELECT doc_id,
       |       $fpTerms AS fp
       |  FROM bits),
       |blocks AS (
       |$blockSelects),
       |near AS (
       |  SELECT id_b AS doc_id, min(id_a) AS own3 FROM (
       |    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |    FROM blocks a JOIN blocks b
       |      ON a.block = b.block AND a.key = b.key
       |     AND a.doc_id < b.doc_id
       |    WHERE bit_count(xor(a.fp, b.fp)) <= 3)
       |  GROUP BY 1)
       |SELECT j1.doc_id,
       |  CASE WHEN j1.doc_id <> j1.own1 THEN 'exact'
       |       WHEN j1.doc_id <> j2.own2 THEN 'normalized'
       |       WHEN near.own3 IS NOT NULL THEN 'near'
       |       ELSE 'keep' END AS stage,
       |  CASE WHEN j1.doc_id <> j1.own1 THEN j1.own1
       |       WHEN j1.doc_id <> j2.own2 THEN j2.own2
       |       ELSE near.own3 END AS dup_of
       |FROM j1
       |LEFT JOIN j2 ON j2.doc_id = j1.doc_id
       |LEFT JOIN near ON near.doc_id = j1.doc_id
       |ORDER BY 1""".stripMargin
  }

  /** q27 oracle: the LSH-bucketed ANN pipeline in SQL. The hyperplane
    * components are plan-time constants (Similarity.planeComponent), so
    * they embed as double literals; every dot product is written as an
    * explicit left-associated 64-term chain to reproduce the native
    * kernel's sequential summation order bit-for-bit. */
  private def lshTopkOracle: String = {
    val planes = 6; val dim = 64
    def dotChain(a: Int => String, b: Int => String): String =
      (0 until dim).map(i => s"${a(i)} * ${b(i)}").mkString(" + ")
    def planeDot(vec: String, p: Int): String =
      dotChain(i => s"$vec[${i + 1}]",
        i => java.lang.Double.toString(Similarity.planeComponent(p, i)))
    def bucketExpr(vec: String): String =
      (0 until planes).map(p =>
        s"CASE WHEN ${planeDot(vec, p)} >= 0 THEN ${1L << p} ELSE 0 END")
        .mkString("\n       + ")
    val vq = dotChain(i => s"e[${i + 1}]", i => s"qe[${i + 1}]")
    val vv = dotChain(i => s"e[${i + 1}]", i => s"e[${i + 1}]")
    val qq = dotChain(i => s"qe[${i + 1}]", i => s"qe[${i + 1}]")
    val probeList = (0 until planes).map(p => s"xor(qkey, ${1L << p})")
      .mkString(", ")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
       |keyed AS (
       |  SELECT vec_id, e,
       |       ${bucketExpr("e")} AS bucket
       |  FROM v),
       |qk AS (
       |  SELECT ${bucketExpr("qe")} AS qkey FROM q),
       |scored AS (
       |  SELECT k.vec_id,
       |         CASE WHEN sqrt($vv) * sqrt($qq) > 0
       |              THEN ($vq) / (sqrt($vv) * sqrt($qq))
       |              ELSE 0.0 END AS cosine
       |  FROM keyed k, q, qk
       |  WHERE k.bucket IN (qkey, $probeList)
       |  ORDER BY cosine DESC, vec_id LIMIT 10)
       |SELECT vec_id, round(cosine, 6) AS cosine
       |FROM scored ORDER BY cosine DESC, vec_id""".stripMargin
  }

  /** Recall@10 oracle: brute-force and LSH top-10 recomputed in SQL with
    * the same plane constants ([[Similarity.planeComponent]]) as the
    * engine, then |∩|/10. */
  /** q126 oracle: exact all-pairs Jaccard ≥ 0.4 (q23's inverted index)
    * as ground truth, the portable MinHash band candidates (q24's CTEs)
    * as the approximation, counts + recall in one row. */
  private def lshRecallOracle: String =
    s"""WITH $shingleHashCte,
       |$minhashCandCtes,
       |inv AS (
       |  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM sh),
       |exact AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM inv a JOIN inv b ON a.shingle = b.shingle
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
       |  HAVING CAST(count(*) AS DOUBLE)
       |         / (a.n_sh + b.n_sh - count(*)) >= 0.4),
       |tc AS (SELECT count(*) AS true_pairs FROM exact),
       |cc AS (SELECT count(*) AS candidate_pairs FROM cand),
       |hc AS (SELECT count(*) AS hit_pairs
       |       FROM exact JOIN cand USING (id_a, id_b))
       |SELECT true_pairs, candidate_pairs, hit_pairs,
       |       round(CASE WHEN true_pairs = 0 THEN 1.0
       |                  ELSE CAST(hit_pairs AS DOUBLE) / true_pairs
       |             END, 6) AS recall
       |FROM tc, cc, hc""".stripMargin

  /** q125 oracle: the JL projection re-derived in SQL — per output dim j,
    * the same left-to-right weight chain over the same splitmix64 plane
    * constants ([[Similarity.planeComponent]], plane id = j at seed 0),
    * scaled by √(12/outDim) and rounded at the edge (float-parity recipe:
    * sequential same-order arithmetic, one round). */
  private def randomProjectOracle: String = {
    val outDim = 8; val dim = 64
    val scale = java.lang.Double.toString(math.sqrt(12.0 / outDim.toDouble))
    val arms = (0 until outDim).map { j =>
      val chain = (0 until dim).map(i =>
        s"e[${i + 1}] * ${java.lang.Double.toString(Similarity.planeComponent(j, i))}")
        .mkString(" + ")
      s"  SELECT vec_id, $j AS j, round(($chain) * $scale, 6) AS coord FROM v"
    }.mkString("\n  UNION ALL\n")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
       |SELECT vec_id, j, coord FROM (
       |$arms)
       |ORDER BY vec_id, j""".stripMargin
  }

  /** q137 oracle: the two-stage projected ANN re-derived in SQL — the 8
    * projection chains as CTE columns, hyperplane sign-bits over the
    * projected coordinates, multi-probe bucket filter, full-dim cosine
    * re-score, recall against the exact brute top-10. */
  private def projectedAnnOracle: String = {
    val outDim = 8; val planes = 6; val dim = 64; val seed = 1
    val scale = java.lang.Double.toString(Similarity.projectScale(outDim))
    val projCols = (0 until outDim).map { j =>
      val chain = (0 until dim).map(i => s"e[${i + 1}] * " +
        java.lang.Double.toString(
          Similarity.planeComponent((seed << 16) | j, i)))
        .mkString(" + ")
      s"($chain) * $scale AS p$j"
    }.mkString(",\n       ")
    val bucketExpr = (0 until planes).map { p =>
      val d = (0 until outDim).map(m => s"p$m * " +
        java.lang.Double.toString(Similarity.planeComponent(p, m)))
        .mkString(" + ")
      s"CASE WHEN $d >= 0 THEN ${1L << p} ELSE 0 END"
    }.mkString("\n       + ")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |pr AS (
       |  SELECT vec_id, e,
       |       $projCols
       |  FROM v),
       |keyed AS (
       |  SELECT vec_id, e,
       |       $bucketExpr AS bucket
       |  FROM pr),
       |q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
       |qk AS (SELECT bucket AS qkey FROM keyed WHERE vec_id = 0),
       |${recallTailSql(planes, dim)}""".stripMargin
  }

  /** Shared tail of the two ANN-recall oracles (q105, q137): expects
    * CTEs `keyed(vec_id, e, bucket)`, `q(qe)`, `qk(qkey)` to precede it;
    * emits the brute/lsh full-dim cosine top-10s and the hits/recall
    * intersection. One builder so the twin oracles can never diverge in
    * probe semantics, tie order, or the recall arithmetic. */
  private def recallTailSql(planes: Int, dim: Int): String = {
    def dotChain(a: Int => String, b: Int => String): String =
      (0 until dim).map(i => s"${a(i)} * ${b(i)}").mkString(" + ")
    val vq = dotChain(i => s"e[${i + 1}]", i => s"qe[${i + 1}]")
    val vv = dotChain(i => s"e[${i + 1}]", i => s"e[${i + 1}]")
    val qq = dotChain(i => s"qe[${i + 1}]", i => s"qe[${i + 1}]")
    val probeList = (0 until planes).map(p => s"xor(qkey, ${1L << p})")
      .mkString(", ")
    s"""brute AS (
       |  SELECT vec_id FROM (
       |    SELECT k.vec_id,
       |           CASE WHEN sqrt($vv) * sqrt($qq) > 0
       |                THEN ($vq) / (sqrt($vv) * sqrt($qq))
       |                ELSE 0.0 END AS cosine
       |    FROM keyed k, q)
       |  ORDER BY cosine DESC, vec_id LIMIT 10),
       |lsh AS (
       |  SELECT vec_id FROM (
       |    SELECT k.vec_id,
       |           CASE WHEN sqrt($vv) * sqrt($qq) > 0
       |                THEN ($vq) / (sqrt($vv) * sqrt($qq))
       |                ELSE 0.0 END AS cosine
       |    FROM keyed k, q, qk
       |    WHERE k.bucket IN (qkey, $probeList))
       |  ORDER BY cosine DESC, vec_id LIMIT 10)
       |SELECT count(*) AS hits, round(count(*) / 10.0, 6) AS recall
       |FROM brute JOIN lsh USING (vec_id)""".stripMargin
  }

  private def annRecallOracle: String = {
    val planes = 6; val dim = 64
    def planeDot(vec: String, p: Int): String =
      (0 until dim).map(i => s"$vec[${i + 1}] * " +
        java.lang.Double.toString(Similarity.planeComponent(p, i)))
        .mkString(" + ")
    def bucketExpr(vec: String): String =
      (0 until planes).map(p =>
        s"CASE WHEN ${planeDot(vec, p)} >= 0 THEN ${1L << p} ELSE 0 END")
        .mkString("\n       + ")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
       |keyed AS (
       |  SELECT vec_id, e,
       |       ${bucketExpr("e")} AS bucket
       |  FROM v),
       |qk AS (
       |  SELECT ${bucketExpr("qe")} AS qkey FROM q),
       |${recallTailSql(planes, dim)}""".stripMargin
  }

  /** Matryoshka oracle: the 16-term prefix dot chains and the 64-term
    * full chains in the same sequential order as the native kernel;
    * shortlist and rerank restate the (cosine DESC, vec_id) tie rule. */
  private def matryoshkaOracle: String = {
    val dim = 64; val pre = 16
    def chain(n: Int, a: Int => String, b: Int => String): String =
      (0 until n).map(i => s"${a(i)} * ${b(i)}").mkString(" + ")
    def cos(vq: String, vv: String, qq: String): String =
      s"""CASE WHEN sqrt($vv) * sqrt($qq) > 0
         |                THEN ($vq) / (sqrt($vv) * sqrt($qq))
         |                ELSE 0.0 END""".stripMargin
    val e = (i: Int) => s"e[${i + 1}]"; val qe = (i: Int) => s"qe[${i + 1}]"
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
       |short AS (
       |  SELECT vec_id FROM (
       |    SELECT v.vec_id,
       |           ${cos(chain(pre, e, qe), chain(pre, e, e),
                         chain(pre, qe, qe))} AS pc
       |    FROM v, q)
       |  ORDER BY pc DESC, vec_id LIMIT 50)
       |SELECT vec_id,
       |       ${cos(chain(dim, e, qe), chain(dim, e, e),
                     chain(dim, qe, qe))} AS cosine
       |FROM v JOIN short USING (vec_id), q
       |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
  }

  /** Unigram-segmentation oracle: the substring vocab (char coverage +
    * top-200 multis) and the 12 Viterbi rounds unrolled, tie order
    * restated as (score DESC, j ASC, piece DESC, segs DESC) — the SQL
    * reading of the Spark max_by struct(score, −j, piece, segs). */
  private def unigramSegmentOracle: String =
    s"""WITH $unigramDpCtes
       |SELECT a12.word, np AS n_pieces, round(score, 6) AS score,
       |       segs
       |FROM a12
       |JOIN (SELECT word, len(word) AS wl FROM w) lw
       |  ON a12.word = lw.word AND a12.i = lw.wl
       |ORDER BY a12.word""".stripMargin

  /** Shared q235/q236 oracle prelude: substring vocab + the 12
    * Viterbi rounds; ends with `a12(word, i, score, np, segs)`, `w`,
    * `v(piece, lnp)` and the token CTE `tok(t)` in scope. */
  /** The shared q235/q236 DP prelude over the default (lowercased,
    * whitespace-split) word domain. */
  private def unigramDpCtes: String = unigramDpCtesFor(
    """tok AS MATERIALIZED (
      |  SELECT t FROM (
      |    SELECT unnest(string_split(lower(text), ' ')) AS t
      |    FROM documents WHERE text IS NOT NULL)
      |  WHERE len(t) > 0)""".stripMargin)

  /** q332's METASPACE word domain: the same DP over ▁-prefixed words
    * (every word takes its ▁ under prepend_scheme=always — exact on
    * this single-spaced corpus, the q330 convention). */
  private def unigramDpCtesMetaspace: String = unigramDpCtesFor(
    """tok AS MATERIALIZED (
      |  SELECT '▁' || t AS t FROM (
      |    SELECT unnest(string_split(lower(text), ' ')) AS t
      |    FROM documents WHERE text IS NOT NULL)
      |  WHERE len(t) > 0)""".stripMargin)

  /** One complete Viterbi-DP chain (w/e0/e1/e/a0/b1..a12, all names
    * suffixed `sfx`) reading the shared `w0` distinct-word table and
    * joining the given vocab CTE — extracted so multi-round trainer
    * oracles (q336) can chain a second DP over a re-estimated vocab. */
  private def unigramDpChain(sfx: String, vCte: String): String = {
    val maxLen = 12
    def round(i: Int): String =
      s"""b$i$sfx AS MATERIALIZED (
         |  SELECT word, i, score, np, segs FROM (
         |    SELECT e.word, $i AS i, a.score + e.lnp AS score,
         |           a.np + 1 AS np,
         |           CASE WHEN a.segs = '' THEN e.piece
         |                ELSE a.segs || '|' || e.piece END AS segs,
         |           row_number() OVER (PARTITION BY e.word
         |             ORDER BY a.score + e.lnp DESC, e.j ASC,
         |                      e.piece DESC,
         |                      CASE WHEN a.segs = '' THEN e.piece
         |                           ELSE a.segs || '|' || e.piece END
         |                        DESC) AS rk
         |    FROM e$sfx e JOIN a${i - 1}$sfx a
         |      ON e.word = a.word AND e.i = $i AND e.j = a.i)
         |  WHERE rk = 1),
         |a$i$sfx AS MATERIALIZED (SELECT * FROM a${i - 1}$sfx
         |        UNION ALL SELECT * FROM b$i$sfx)""".stripMargin
    s"""w$sfx AS (SELECT word FROM w0 WHERE len(word) BETWEEN 1 AND $maxLen),
       |e0$sfx AS (SELECT word, unnest(generate_series(1, len(word))) AS i
       |       FROM w$sfx),
       |e1$sfx AS (SELECT word, i,
       |         unnest(generate_series(1, least(4, i))) AS plen
       |       FROM e0$sfx),
       |e$sfx AS MATERIALIZED (SELECT e1.word, e1.i, e1.i - e1.plen AS j,
       |        substr(e1.word, e1.i - e1.plen + 1, e1.plen) AS piece,
       |        v.lnp
       |      FROM e1$sfx e1 JOIN $vCte v
       |        ON substr(e1.word, e1.i - e1.plen + 1, e1.plen)
       |           = v.piece),
       |a0$sfx AS MATERIALIZED (SELECT word, 0 AS i, CAST(0.0 AS DOUBLE) AS score,
       |         CAST(0 AS BIGINT) AS np, '' AS segs FROM w$sfx),
       |${(1 to maxLen).map(round).mkString(",\n")}""".stripMargin
  }

  /** The seed substring vocab (q235's substringVocab replay): w0 from
    * `tok`, char coverage + top-200 multis, raw ln(n/tot) scores. */
  private def unigramSeedVocabCtes: String =
    s"""w0 AS MATERIALIZED (SELECT DISTINCT t AS word FROM tok),
       |p1 AS (SELECT word, unnest(generate_series(1, len(word))) AS i
       |       FROM w0),
       |p2 AS (SELECT word, i,
       |         unnest(generate_series(1, least(4, len(word) - i + 1)))
       |           AS l
       |       FROM p1),
       |cnt AS (SELECT substr(word, i, l) AS piece, count(*) AS n
       |        FROM p2 GROUP BY 1),
       |kept AS (
       |  SELECT piece, n FROM cnt WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, n FROM (
       |    SELECT piece, n FROM cnt WHERE len(piece) > 1
       |    ORDER BY n DESC, piece LIMIT 200)),
       |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM kept),
       |v AS (SELECT piece, ln(n / tot) AS lnp
       |      FROM kept CROSS JOIN tot)""".stripMargin

  /** The default (q235-shaped) DP prelude — named so oracles can
    * splice it into larger WITH chains. */
  private def unigramDpCtesForStd: String = unigramDpCtesFor(
    """tok AS MATERIALIZED (
      |  SELECT t FROM (
      |    SELECT unnest(string_split(lower(text), ' ')) AS t
      |    FROM documents WHERE text IS NOT NULL)
      |  WHERE len(t) > 0)""".stripMargin)

  private def unigramDpCtesFor(tokCte: String): String =
    s"""$tokCte,
       |$unigramSeedVocabCtes,
       |${unigramDpChain("", "v")}""".stripMargin

  /** Hard-negatives oracle: the 6-plane bucket expression and the
    * 64-term dot chains in the kernel's sequential order; wrong-label
    * self-join within bucket, (cosine DESC, neg_id) rank, top-3. */
  private def hardNegativesOracle: String = {
    val planes = 6; val dim = 64; val k = 3
    def planeDot(vec: String, p: Int): String =
      (0 until dim).map(i => s"$vec[${i + 1}] * " +
        java.lang.Double.toString(Similarity.planeComponent(p, i)))
        .mkString(" + ")
    def bucketExpr(vec: String): String =
      (0 until planes).map(p =>
        s"CASE WHEN ${planeDot(vec, p)} >= 0 THEN ${1L << p} ELSE 0 END")
        .mkString("\n       + ")
    def chain(a: String, b: String): String =
      (0 until dim).map(i => s"$a[${i + 1}] * $b[${i + 1}]")
        .mkString(" + ")
    s"""WITH v AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings),
       |keyed AS (
       |  SELECT vec_id, label, e,
       |       ${bucketExpr("e")} AS bucket,
       |       sqrt(${chain("e", "e")}) AS nrm
       |  FROM v),
       |p AS (
       |  SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
       |    CASE WHEN a.nrm * b.nrm > 0
       |         THEN (${chain("a.e", "b.e")}) / (a.nrm * b.nrm)
       |         ELSE 0.0 END AS cosine
       |  FROM keyed a JOIN keyed b
       |    ON a.bucket = b.bucket AND a.label <> b.label),
       |r AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY anchor_id
       |    ORDER BY cosine DESC, neg_id) AS INTEGER) AS "rank"
       |  FROM p)
       |SELECT anchor_id, neg_id, cosine, "rank"
       |FROM r WHERE "rank" <= $k
       |ORDER BY anchor_id, "rank"""".stripMargin
  }

  /** Bitext-margin oracle: the 4-plane buckets and sequential cosine
    * chains of [[hardNegativesOracle]], both kNN rank directions,
    * id-ordered list_reduce folds / 2k for the local averages, guarded
    * margin divisions, best-per-anchor + mutual flag via the reverse
    * best join. */
  private def bitextMineOracle: String = {
    val planes = 4; val dim = 64; val k = 4
    def planeDot(vec: String, p: Int): String =
      (0 until dim).map(i => s"$vec[${i + 1}] * " +
        java.lang.Double.toString(Similarity.planeComponent(p, i)))
        .mkString(" + ")
    def bucketExpr(vec: String): String =
      (0 until planes).map(p =>
        s"CASE WHEN ${planeDot(vec, p)} >= 0 THEN ${1L << p} ELSE 0 END")
        .mkString("\n       + ")
    def chain(a: String, b: String): String =
      (0 until dim).map(i => s"$a[${i + 1}] * $b[${i + 1}]")
        .mkString(" + ")
    s"""WITH va AS (
       |  SELECT vec_id AS a_id, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings WHERE label % 2 = 0),
       |vb AS (
       |  SELECT vec_id AS b_id, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings WHERE label % 2 = 1),
       |ka AS (
       |  SELECT a_id, e, ${bucketExpr("e")} AS bucket,
       |         sqrt(${chain("e", "e")}) AS nrm
       |  FROM va),
       |kb AS (
       |  SELECT b_id, e, ${bucketExpr("e")} AS bucket,
       |         sqrt(${chain("e", "e")}) AS nrm
       |  FROM vb),
       |p AS (
       |  SELECT a_id, b_id,
       |    CASE WHEN a.nrm * b.nrm > 0
       |         THEN (${chain("a.e", "b.e")}) / (a.nrm * b.nrm)
       |         ELSE 0.0 END AS cosine
       |  FROM ka a JOIN kb b ON a.bucket = b.bucket),
       |fwd AS (
       |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY a_id
       |    ORDER BY cosine DESC, b_id) AS rk FROM p) z WHERE rk <= $k),
       |rev AS (
       |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY b_id
       |    ORDER BY cosine DESC, a_id) AS rk FROM p) z WHERE rk <= $k),
       |aa AS (
       |  SELECT a_id, list_reduce(list_transform(
       |      list_sort(list(struct_pack(j := b_id, v := cosine))),
       |      x -> x.v), (x, y) -> x + y) / ${2 * k}.0 AS avg_a
       |  FROM fwd GROUP BY 1),
       |ab AS (
       |  SELECT b_id, list_reduce(list_transform(
       |      list_sort(list(struct_pack(j := a_id, v := cosine))),
       |      x -> x.v), (x, y) -> x + y) / ${2 * k}.0 AS avg_b
       |  FROM rev GROUP BY 1),
       |cf AS (
       |  SELECT a_id, b_id, cosine,
       |    CASE WHEN avg_a + avg_b <> 0
       |         THEN cosine / (avg_a + avg_b) ELSE 0.0 END AS margin
       |  FROM fwd JOIN aa USING (a_id) JOIN ab USING (b_id)),
       |cr AS (
       |  SELECT a_id, b_id, cosine,
       |    CASE WHEN avg_a + avg_b <> 0
       |         THEN cosine / (avg_a + avg_b) ELSE 0.0 END AS margin
       |  FROM rev JOIN aa USING (a_id) JOIN ab USING (b_id)),
       |bf AS (
       |  SELECT a_id, b_id, cosine, margin FROM (
       |    SELECT *, row_number() OVER (PARTITION BY a_id
       |      ORDER BY margin DESC, b_id) AS r2 FROM cf) z
       |  WHERE r2 = 1),
       |br AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY b_id
       |      ORDER BY margin DESC, a_id) AS r2 FROM cr) z
       |  WHERE r2 = 1)
       |SELECT bf.a_id, bf.b_id, cosine, margin,
       |  CAST(CASE WHEN br.a_id IS NOT NULL THEN 1 ELSE 0 END
       |    AS INTEGER) AS mutual
       |FROM bf LEFT JOIN br ON bf.a_id = br.a_id AND bf.b_id = br.b_id
       |ORDER BY bf.a_id""".stripMargin
  }

  /** Extractive-fragments oracle: the same ≤8-token windows per
    * position, the same innermost-out prefix-match CASE chain (list
    * indexing past a short window is NULL → ELSE, mirroring the
    * guarded get()), per-position max, exact-quotient coverage and
    * density. */
  private def extractiveOracle: String = {
    val maxLen = 8
    def eq(t: Int) = s"(ws[$t] IS NOT NULL AND ws[$t] = wa[$t])"
    def chain(t: Int): String =
      if (t == maxLen)
        s"CASE WHEN ${eq(maxLen)} THEN $maxLen ELSE ${maxLen - 1} END"
      else s"CASE WHEN ${eq(t)} THEN ${chain(t + 1)} ELSE ${t - 1} END"
    s"""WITH d AS (
       |  SELECT doc_id AS id,
       |    list_filter(string_split(lower(text), ' '),
       |      x -> len(x) > 0) AS at,
       |    CASE
       |      WHEN doc_id % 3 = 0 THEN array_to_string(list_slice(
       |        list_filter(string_split(lower(text), ' '),
       |          x -> len(x) > 0), 3, 12), ' ')
       |      WHEN doc_id % 3 = 1 THEN 'summary of ' || source
       |      ELSE array_to_string(list_slice(
       |        list_filter(string_split(lower(text), ' '),
       |          x -> len(x) > 0), 1, 4), ' ')
       |        || ' entirely novel trailing commentary' END AS stext
       |  FROM documents WHERE text IS NOT NULL),
       |dd AS (
       |  SELECT id, at, list_filter(string_split(lower(stext), ' '),
       |    x -> len(x) > 0) AS st
       |  FROM d),
       |se AS (
       |  SELECT id, i, list_slice(st, i, i + $maxLen - 1) AS ws
       |  FROM (SELECT id, st,
       |          unnest(generate_series(1, len(st))) AS i FROM dd) z),
       |ae AS (
       |  SELECT id, j, list_slice(at, j, j + $maxLen - 1) AS wa
       |  FROM (SELECT id, at,
       |          unnest(generate_series(1, len(at))) AS j FROM dd) z),
       |m AS (
       |  SELECT se.id, se.i, max(${chain(1)}) AS bl
       |  FROM se JOIN ae ON se.id = ae.id AND se.ws[1] = ae.wa[1]
       |  GROUP BY 1, 2),
       |pp AS (
       |  SELECT se.id, coalesce(bl, 0) AS bl
       |  FROM se LEFT JOIN m ON se.id = m.id AND se.i = m.i)
       |SELECT id AS pair_id, count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN bl >= 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS matched_tokens,
       |  CAST(max(bl) AS INTEGER) AS max_match,
       |  CAST(sum(CASE WHEN bl >= 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS coverage,
       |  CAST(sum(bl * bl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    AS density
       |FROM pp GROUP BY 1 ORDER BY pair_id""".stripMargin
  }

  /** Wilson-interval oracle: z and z² embedded as CAST-to-DOUBLE
    * literals (the q256 decimal-trap rule), the algebra mirrored
    * parenthesis-for-parenthesis; sqrt is IEEE-correctly-rounded. */
  private def wilsonOracle: String = {
    val z = 1.96
    val zS = s"CAST(${java.lang.Double.toString(z)} AS DOUBLE)"
    val z2S = s"CAST(${java.lang.Double.toString(z * z)} AS DOUBLE)"
    s"""WITH m AS (
       |  SELECT source AS a,
       |         'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS b,
       |         CASE WHEN ((doc_id * 31) % 101) % 2 = 0 THEN source
       |              ELSE 'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR)
       |              END AS w
       |  FROM documents
       |  WHERE source IS NOT NULL
       |    AND source <> 'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR)),
       |g AS (
       |  SELECT model, count(*) AS n_games,
       |    CAST(sum(CASE WHEN w = model THEN 1 ELSE 0 END) AS BIGINT)
       |      AS wins
       |  FROM (SELECT a AS model, w FROM m
       |        UNION ALL SELECT b AS model, w FROM m) u
       |  GROUP BY 1),
       |c AS (
       |  SELECT model, n_games, wins,
       |    CAST(wins AS DOUBLE) / CAST(n_games AS DOUBLE) AS p,
       |    CAST(n_games AS DOUBLE) AS n
       |  FROM g)
       |SELECT model, n_games, wins, p AS win_rate,
       |  (p + $z2S / (n * 2)) / (1 + $z2S / n)
       |    - ($zS * sqrt(p * (1 - p) / n + $z2S / (n * n * 4)))
       |      / (1 + $z2S / n) AS wilson_lo,
       |  (p + $z2S / (n * 2)) / (1 + $z2S / n)
       |    + ($zS * sqrt(p * (1 - p) / n + $z2S / (n * n * 4)))
       |      / (1 + $z2S / n) AS wilson_hi
       |FROM c ORDER BY model""".stripMargin
  }

  /** Arena-leaderboard oracle: the q249 MM chain and the q260 Wilson
    * algebra over the SAME match CTE, joined, ranked by rating. */
  private def arenaOracle: String = {
    val zS = s"CAST(${java.lang.Double.toString(1.96)} AS DOUBLE)"
    val z2S = s"CAST(${java.lang.Double.toString(1.96 * 1.96)} AS DOUBLE)"
    s"""WITH m AS (
       |  SELECT source AS a,
       |         'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS b,
       |         CASE WHEN ((doc_id * 31) % 101) % 2 = 0 THEN source
       |              ELSE 'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR)
       |              END AS w
       |  FROM documents
       |  WHERE source IS NOT NULL
       |    AND source <> 'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR)),
       |nm AS (
       |  SELECT i, j, count(*) AS n FROM (
       |    SELECT a AS i, b AS j FROM m
       |    UNION ALL SELECT b AS i, a AS j FROM m)
       |  GROUP BY 1, 2),
       |base AS (
       |  SELECT model, coalesce(wins, CAST(0 AS BIGINT)) AS wins FROM
       |    (SELECT DISTINCT i AS model FROM nm) mo
       |    LEFT JOIN (SELECT w AS model, count(*) AS wins FROM m
       |               GROUP BY 1) wi USING (model)),
       |r0 AS (SELECT model, CAST(1.0 AS DOUBLE) AS rating FROM base),
       |d1 AS (
       |  SELECT nm.i AS model, list_reduce(list_transform(
       |      list_sort(list(struct_pack(j := nm.j, t :=
       |        CASE WHEN ra.rating + rb.rating > 0
       |             THEN CAST(nm.n AS DOUBLE) / (ra.rating + rb.rating)
       |             ELSE CAST(0.0 AS DOUBLE) END))),
       |      x -> x.t), (p, q) -> p + q) AS denom
       |  FROM nm JOIN r0 ra ON nm.i = ra.model
       |           JOIN r0 rb ON nm.j = rb.model
       |  GROUP BY nm.i),
       |r1 AS (
       |  SELECT base.model,
       |         CASE WHEN denom > 0
       |              THEN CAST(wins AS DOUBLE) / denom
       |              ELSE CAST(0.0 AS DOUBLE) END AS rating
       |  FROM base JOIN d1 USING (model)),
       |d2 AS (
       |  SELECT nm.i AS model, list_reduce(list_transform(
       |      list_sort(list(struct_pack(j := nm.j, t :=
       |        CASE WHEN ra.rating + rb.rating > 0
       |             THEN CAST(nm.n AS DOUBLE) / (ra.rating + rb.rating)
       |             ELSE CAST(0.0 AS DOUBLE) END))),
       |      x -> x.t), (p, q) -> p + q) AS denom
       |  FROM nm JOIN r1 ra ON nm.i = ra.model
       |           JOIN r1 rb ON nm.j = rb.model
       |  GROUP BY nm.i),
       |r2 AS (
       |  SELECT base.model,
       |         CASE WHEN denom > 0
       |              THEN CAST(wins AS DOUBLE) / denom
       |              ELSE CAST(0.0 AS DOUBLE) END AS rating
       |  FROM base JOIN d2 USING (model)),
       |nmat AS (SELECT i AS model, CAST(sum(n) AS BIGINT) AS n_matches
       |         FROM nm GROUP BY 1),
       |gg AS (
       |  SELECT model, count(*) AS n_games,
       |    CAST(sum(CASE WHEN w = model THEN 1 ELSE 0 END) AS BIGINT)
       |      AS gwins
       |  FROM (SELECT a AS model, w FROM m
       |        UNION ALL SELECT b AS model, w FROM m) u
       |  GROUP BY 1),
       |cc AS (
       |  SELECT model, n_games,
       |    CAST(gwins AS DOUBLE) / CAST(n_games AS DOUBLE) AS p,
       |    CAST(n_games AS DOUBLE) AS n
       |  FROM gg),
       |wil AS (
       |  SELECT model, n_games, p AS win_rate,
       |    (p + $z2S / (n * 2)) / (1 + $z2S / n)
       |      - ($zS * sqrt(p * (1 - p) / n + $z2S / (n * n * 4)))
       |        / (1 + $z2S / n) AS wilson_lo,
       |    (p + $z2S / (n * 2)) / (1 + $z2S / n)
       |      + ($zS * sqrt(p * (1 - p) / n + $z2S / (n * n * 4)))
       |        / (1 + $z2S / n) AS wilson_hi
       |  FROM cc)
       |SELECT base.model, n_matches, wins, rating, n_games, win_rate,
       |  wilson_lo, wilson_hi,
       |  CAST(row_number() OVER (ORDER BY rating DESC, base.model)
       |    AS INTEGER) AS arena_rank
       |FROM base JOIN nmat USING (model) JOIN r2 USING (model)
       |     JOIN wil USING (model)
       |ORDER BY arena_rank""".stripMargin
  }

  /** Retrieval-eval oracle: the same plan-time 1/log₂(i+1) discount
    * literals (Double.toString — the planeComponent convention), the
    * md5-ordered run replay, rank-ordered list_reduce DCG folds, and
    * the ideal-ordering window. */
  private def retrievalEvalOracle: String = {
    val k = 10
    // CAST each literal: a bare decimal literal types as DECIMAL(18,17)
    // in DuckDB and the decimal-tainted multiply drifts a ULP off the
    // pure-double product (observed: 3*disc(7) = 0.9999999999999998
    // decimal-routed vs 1.0 in IEEE double)
    val discRows = (1 to k).map(i => s"($i, CAST(" +
      java.lang.Double.toString(1.0 / (math.log(i + 1.0) / math.log(2.0)))
      + " AS DOUBLE))").mkString(",\n       |  ")
    s"""WITH disc(i, g) AS (VALUES
       |  $discRows),
       |run AS (
       |  SELECT * FROM (
       |    SELECT doc_id % 23 AS q, doc_id,
       |      CAST(row_number() OVER (PARTITION BY doc_id % 23
       |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
       |        AS INTEGER) AS rk
       |    FROM documents) z
       |  WHERE rk <= $k),
       |pos AS (
       |  SELECT * FROM (
       |    SELECT doc_id % 23 AS q, doc_id AS d,
       |      CASE WHEN (doc_id * 31) % 101 < 10 THEN 2
       |           WHEN (doc_id * 31) % 101 < 30 THEN 1 ELSE 0 END AS r
       |    FROM documents) zz
       |  WHERE r > 0),
       |nrel AS (SELECT q, count(*) AS n_rel FROM pos GROUP BY 1),
       |hits AS (
       |  SELECT run.q, run.rk,
       |    CAST((1 << r) - 1 AS DOUBLE) * g AS term
       |  FROM run JOIN pos ON run.q = pos.q AND run.doc_id = pos.d
       |       JOIN disc ON disc.i = run.rk),
       |perq AS (
       |  SELECT q, count(*) AS hits_at_k, min(rk) AS firstr,
       |    list_reduce(list_transform(list_sort(list(struct_pack(
       |      j := rk, v := term))), x -> x.v), (a, b) -> a + b) AS dcg
       |  FROM hits GROUP BY 1),
       |ideal AS (
       |  SELECT q, list_reduce(list_transform(list_sort(list(struct_pack(
       |      j := p, v := term))), x -> x.v), (a, b) -> a + b) AS idcg
       |  FROM (
       |    SELECT z.q, z.p, CAST((1 << z.r) - 1 AS DOUBLE) * g AS term
       |    FROM (
       |      SELECT q, r, CAST(row_number() OVER (PARTITION BY q
       |        ORDER BY r DESC, d) AS INTEGER) AS p
       |      FROM pos) z JOIN disc ON disc.i = z.p
       |    WHERE z.p <= $k) y
       |  GROUP BY 1),
       |qs AS (SELECT DISTINCT q FROM run)
       |SELECT qs.q AS query_id,
       |  coalesce(n_rel, CAST(0 AS BIGINT)) AS n_rel,
       |  coalesce(hits_at_k, CAST(0 AS BIGINT)) AS hits_at_k,
       |  CASE WHEN n_rel > 0
       |       THEN CAST(coalesce(hits_at_k, CAST(0 AS BIGINT)) AS DOUBLE)
       |            / CAST(n_rel AS DOUBLE) END AS recall_at_k,
       |  coalesce(CASE WHEN firstr IS NOT NULL
       |                THEN 1.0 / CAST(firstr AS DOUBLE) END, 0.0) AS mrr,
       |  coalesce(dcg, 0.0) AS dcg,
       |  CASE WHEN idcg > 0 THEN coalesce(dcg, 0.0) / idcg END AS ndcg
       |FROM qs LEFT JOIN nrel ON qs.q = nrel.q
       |        LEFT JOIN perq ON qs.q = perq.q
       |        LEFT JOIN ideal ON qs.q = ideal.q
       |ORDER BY query_id""".stripMargin
  }

  /** PQ-encode oracle: same subspace squared-L2 argmin with the same
    * sequential term order, codebook = first 16 vectors by id. */
  private def pqEncodeOracle: String = {
    val sub = 8
    val dist = (0 until sub).map { t =>
      val a = s"v.e[8 * gj.j + ${t + 1}]"
      val b = s"cb.ce[8 * gj.j + ${t + 1}]"
      s"($a - $b) * ($a - $b)"
    }.mkString("\n         + ")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cb AS (
       |  SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 16),
       |gj AS (SELECT unnest(generate_series(0, 7)) AS j),
       |d AS (
       |  SELECT v.vec_id, gj.j, cb.cid,
       |         $dist AS dist
       |  FROM v CROSS JOIN gj CROSS JOIN cb),
       |best AS (
       |  SELECT vec_id, j, cid,
       |         row_number() OVER (PARTITION BY vec_id, j
       |           ORDER BY dist, cid) AS rk
       |  FROM d)
       |SELECT vec_id, CAST(j AS INTEGER) AS subspace,
       |       CAST(cid AS INTEGER) AS code
       |FROM best WHERE rk = 1 ORDER BY vec_id, subspace""".stripMargin
  }

  /** q174 oracle: q106's encode CTEs + a query-side LUT, ADC as the
    * explicit left-associative d0+d1+…+d7 chain (the Scala fold's exact
    * shape), top-10 by (adc, vec_id). */
  private def pqAdcOracle: String = {
    val sub = 8
    def dist(a0: String, b0: String) = (0 until sub).map { t =>
      val a = s"$a0[8 * gj.j + ${t + 1}]"
      val b = s"$b0[8 * gj.j + ${t + 1}]"
      s"($a - $b) * ($a - $b)"
    }.mkString("\n         + ")
    val chain = (0 until 8).map(j => s"d$j").mkString(" + ")
    val pivot = (0 until 8)
      .map(j => s"max(CASE WHEN j = $j THEN qd END) AS d$j")
      .mkString(",\n    ")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cb AS (
       |  SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 16),
       |q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
       |gj AS (SELECT unnest(generate_series(0, 7)) AS j),
       |encd AS (
       |  SELECT v.vec_id, gj.j, cb.cid,
       |         ${dist("v.e", "cb.ce")} AS dist
       |  FROM v CROSS JOIN gj CROSS JOIN cb),
       |best AS (
       |  SELECT vec_id, j, cid,
       |         row_number() OVER (PARTITION BY vec_id, j
       |           ORDER BY dist, cid) AS rk
       |  FROM encd),
       |code AS (SELECT vec_id, j, cid AS c FROM best WHERE rk = 1),
       |lut AS (
       |  SELECT gj.j, cb.cid,
       |         ${dist("q.qe", "cb.ce")} AS qd
       |  FROM q CROSS JOIN gj CROSS JOIN cb),
       |terms AS (
       |  SELECT code.vec_id, code.j, lut.qd
       |  FROM code JOIN lut ON lut.j = code.j AND lut.cid = code.c),
       |p AS (
       |  SELECT vec_id,
       |    $pivot
       |  FROM terms GROUP BY vec_id)
       |SELECT vec_id, $chain AS adc
       |FROM p ORDER BY adc, vec_id LIMIT 10""".stripMargin
  }

  /** q178 oracle: the L2 norm as the explicit 64-term left-associative
    * chain (the Scala fold's exact shape) — min/max of bit-identical
    * doubles need no rounding. */
  private def embAuditOracle: String = {
    val chain = (1 to 64).map(i => s"e[$i] * e[$i]")
      .mkString("\n           + ")
    s"""WITH v AS (
       |  SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |n AS (
       |  SELECT label,
       |    CASE WHEN e IS NOT NULL AND len(e) = 64 THEN 1 ELSE 0 END AS ok,
       |    CASE WHEN e IS NOT NULL AND len(e) = 64 THEN
       |      sqrt($chain)
       |    END AS nrm
       |  FROM v)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
       |  CAST(sum(1 - ok) AS BIGINT) AS n_bad_dim,
       |  CAST(sum(CASE WHEN ok = 1 AND nrm = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_zero,
       |  min(nrm) AS min_norm, max(nrm) AS max_norm
       |FROM n GROUP BY label ORDER BY label""".stripMargin
  }

  /** q179 oracle: q39's centroid/probe CTEs (the accepted avg-centroid
    * residual-risk regime) composed with q174's bit-exact ADC chains,
    * encoding restricted to the probed labels. */
  private def ivfPqAdcOracle: String = {
    val sub = 8
    def dist(a0: String, b0: String) = (0 until sub).map { t =>
      val a = s"$a0[8 * gj.j + ${t + 1}]"
      val b = s"$b0[8 * gj.j + ${t + 1}]"
      s"($a - $b) * ($a - $b)"
    }.mkString("\n         + ")
    val chain = (0 until 8).map(j => s"d$j").mkString(" + ")
    val pivot = (0 until 8)
      .map(j => s"max(CASE WHEN j = $j THEN qd END) AS d$j")
      .mkString(",\n    ")
    s"""WITH v AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings),
       |cb AS (
       |  SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 16),
       |q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
       |cent AS (
       |  SELECT label, list(m ORDER BY pos) AS centroid FROM (
       |    SELECT label, i AS pos,
       |           avg(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS m
       |    FROM embeddings, generate_series(1, 64) t(i)
       |    GROUP BY label, i)
       |  GROUP BY label),
       |probes AS (
       |  SELECT label FROM cent, q
       |  ORDER BY list_cosine_similarity(centroid, qe) DESC, label
       |  LIMIT 3),
       |pv AS (
       |  SELECT * FROM v WHERE label IN (SELECT label FROM probes)),
       |gj AS (SELECT unnest(generate_series(0, 7)) AS j),
       |encd AS (
       |  SELECT pv.vec_id, gj.j, cb.cid,
       |         ${dist("pv.e", "cb.ce")} AS dist
       |  FROM pv CROSS JOIN gj CROSS JOIN cb),
       |best AS (
       |  SELECT vec_id, j, cid,
       |         row_number() OVER (PARTITION BY vec_id, j
       |           ORDER BY dist, cid) AS rk
       |  FROM encd),
       |code AS (SELECT vec_id, j, cid AS c FROM best WHERE rk = 1),
       |lut AS (
       |  SELECT gj.j, cb.cid,
       |         ${dist("q.qe", "cb.ce")} AS qd
       |  FROM q CROSS JOIN gj CROSS JOIN cb),
       |terms AS (
       |  SELECT code.vec_id, code.j, lut.qd
       |  FROM code JOIN lut ON lut.j = code.j AND lut.cid = code.c),
       |p AS (
       |  SELECT vec_id,
       |    $pivot
       |  FROM terms GROUP BY vec_id)
       |SELECT vec_id, $chain AS adc
       |FROM p ORDER BY adc, vec_id LIMIT 10""".stripMargin
  }

  /** q182 oracle: the same S-curve with every power an explicit
    * left-associative multiplication chain (never `pow` — its last ulp
    * is not engine-portable). */
  private def lshCurveOracle: String = {
    def mulChain(base: String, n: Int): String =
      "(" + Seq.fill(n)(base).mkString(" * ") + ")"
    val pairs = (2 to 32).filter(r => 64 % r == 0 && 64 / r >= 2)
      .map(r => (r, 64 / r))
    val selects = pairs.map { case (r, b) =>
      val u = s"(1.0 - ${mulChain("s", r)})"
      s"""SELECT $r AS r, $b AS b, s,
         |  1.0 - ${mulChain(u, b)} AS p_candidate
         |FROM grid""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH grid AS (
       |  SELECT CAST(id AS DOUBLE) * CAST(0.05 AS DOUBLE) AS s
       |  FROM generate_series(1, 19) t(id))
       |$selects
       |ORDER BY r, s""".stripMargin
  }

  /** q186 oracle: q94-regime rounded centroid means per snapshot half +
    * the explicit 64-term left-associative distance chain. */
  private def centroidDriftOracle: String = {
    val chain = (1 to 64)
      .map(i => s"(ca.c[$i] - cb.c[$i]) * (ca.c[$i] - cb.c[$i])")
      .mkString("\n    + ")
    def half(name: String, parity: Int) =
      s"""$name AS (
         |  SELECT label, list(m ORDER BY pos) AS c FROM (
         |    SELECT label, i AS pos,
         |      round(avg(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)),
         |            6) AS m
         |    FROM embeddings, generate_series(1, 64) t(i)
         |    WHERE vec_id % 2 = $parity GROUP BY label, i)
         |  GROUP BY label)""".stripMargin
    s"""WITH ${half("ca", 0)},
       |${half("cb", 1)}
       |SELECT ca.label, sqrt($chain) AS drift
       |FROM ca JOIN cb USING (label) ORDER BY label""".stripMargin
  }

  /** q108 oracle: q24's candidate CTEs + q42's split expression, keeping
    * only pairs whose splits differ. */
  /** Shared q130/q132 CTE chain: the 56-bit dHash re-derived in SQL from
    * the pixel synthesis formulas ([[Multimodal.pixel]]) — NN 8×8 luma
    * grid, gradient-sign bits, ending in `dfp(id, fp)`. */
  private val dhashFpCtes =
    """img AS (
      |  SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 7 AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |grid AS (
      |  SELECT doc_id, x, y,
      |         least(x * w // 8, w - 1) AS sx,
      |         least(y * h // 8, h - 1) AS sy
      |  FROM img, generate_series(0, 7) gx(x),
      |            generate_series(0, 7) gy(y)),
      |lum AS (
      |  SELECT doc_id, x, y,
      |         (doc_id * 1 + sx * 3 + sy * 7) % 256
      |       + (doc_id * 2 + sx * 3 + sy * 7) % 256
      |       + (doc_id * 3 + sx * 3 + sy * 7) % 256 AS l
      |  FROM grid),
      |dfp AS (
      |  SELECT a.doc_id AS id,
      |         CAST(sum(CASE WHEN b.l > a.l
      |                       THEN 1::BIGINT << (a.y * 7 + a.x)
      |                       ELSE 0 END) AS BIGINT) AS fp
      |  FROM lum a JOIN lum b
      |    ON b.doc_id = a.doc_id AND b.x = a.x + 1 AND b.y = a.y
      |  WHERE a.x < 7
      |  GROUP BY 1)""".stripMargin

  /** q135 oracle: generated from [[TextOps.ScriptRanges]] so the regex
    * classes are literally the same strings both engines compile. */
  /** q272/q273's shared oracle prelude: synthesis, all-positions gram
    * hashes (the GramHashes 15-hex formula), df cap, digest join, and
    * diagonal islands down to the maximal spans (`sp`). */
  private def exactSubstrOracleCtes: String =
    """WITH base AS (
        |  SELECT doc_id, substr(text, 1, 160) AS text FROM documents
        |  WHERE text IS NOT NULL AND doc_id % 20 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |         'ZQX' || substr(text, 41, 100) || 'WKJ'
        |  FROM base WHERE length(text) >= 140),
        |g AS (
        |  SELECT id, i - 1 AS pos,
        |         ('0x' || substr(md5(substr(text, CAST(i AS INT), 40)),
        |            1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id AS id, text,
        |          unnest(generate_series(1, length(text) - 39)) AS i
        |        FROM corpus WHERE length(text) >= 40)),
        |hdf AS (SELECT h, count(DISTINCT id) AS df FROM g GROUP BY h),
        |cg AS (SELECT g.id, g.pos, g.h FROM g JOIN hdf USING (h)
        |       WHERE hdf.df <= 1000),
        |m AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.pos AS pa, b.pos AS pb,
        |         a.pos - b.pos AS diag
        |  FROM cg a JOIN cg b ON a.h = b.h AND a.id < b.id),
        |i1 AS (
        |  SELECT *, CASE WHEN pa - coalesce(lag(pa) OVER
        |      (PARTITION BY id_a, id_b, diag ORDER BY pa), pa - 2) > 1
        |    THEN 1 ELSE 0 END AS brk
        |  FROM m),
        |i2 AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY id_a, id_b, diag
        |      ORDER BY pa ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
        |  FROM i1),
        |sp AS (
        |  SELECT id_a, id_b, diag, island, min(pa) AS a_start,
        |         max(pa) AS lastp, min(pb) AS b_start
        |  FROM i2 GROUP BY 1, 2, 3, 4)""".stripMargin

  /** q271's oracle: the scripted gate re-derived branch by branch —
    * dominant via the q135 class strings, the latin branch via the q145
    * measurement formulas, the cjk branch via the scriptAwareTokenCount
    * mixed rule — over the same in-query synthesis. */
  private def scriptGatesOracle: String = {
    val cjk = TextOps.CjkClassBody
    val counts = TextOps.ScriptRanges.map { case (n, body) =>
      s"coalesce(length(regexp_replace(text, '[^$body]', '', 'g')), 0)" +
        s" AS sc_$n"
    }.mkString(",\n    ")
    val names = TextOps.ScriptRanges.map(r => "sc_" + r._1)
    val dom = TextOps.ScriptRanges.map(_._1).foldRight("'none'") {
      (n, els) =>
        s"CASE WHEN sc_$n = mx AND mx > 0 THEN '$n' ELSE $els END"
    }
    s"""WITH syn AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 4 = 0 THEN
       |           repeat('深度学习模型训练数据质量',
       |                  CAST(doc_id % 7 + 5 AS INT)) || '。'
       |         WHEN doc_id % 4 = 1 THEN 'GPU加速 ' || text
       |         ELSE text END AS text
       |  FROM documents WHERE text IS NOT NULL),
       |c AS (SELECT doc_id, text, $counts FROM syn),
       |m0 AS (SELECT *, greatest(${names.mkString(", ")}) AS mx FROM c),
       |m1 AS (SELECT doc_id, text, $dom AS dominant FROM m0),
       |w AS (
       |  SELECT doc_id, dominant, text,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |                x -> x <> '') AS words,
       |    string_split(text, chr(10)) AS lines
       |  FROM m1),
       |m AS (
       |  SELECT doc_id, dominant,
       |    CAST(len(words) AS BIGINT) AS n_words_en,
       |    CAST(len(lines) AS BIGINT) AS n_lines,
       |    CAST(list_sum(list_transform(words, x -> length(x)))
       |      AS BIGINT) AS word_chars,
       |    CAST(len(list_filter(words, x -> regexp_matches(x, '[a-z]')))
       |      AS BIGINT) AS alpha_words,
       |    CAST(len(list_filter(lines,
       |      x -> regexp_matches(x, '^\\s*[-*•]'))) AS BIGINT)
       |      AS bullet_lines,
       |    CAST(len(list_filter(lines,
       |      x -> regexp_matches(x, '\\.{3}\\s*$$'))) AS BIGINT)
       |      AS ellipsis_lines,
       |    CAST(len(list_filter(
       |      ['the','be','to','of','and','that','have','with'],
       |      s2 -> list_contains(words, s2))) AS BIGINT) AS stop_hits,
       |    CAST(length(text) - length(regexp_replace(text, '[$cjk]', '', 'g'))
       |      + len(list_filter(string_split_regex(
       |          regexp_replace(text, '[$cjk]', ' ', 'g'), '\\s+'),
       |          x -> x <> '')) AS BIGINT) AS n_words_cjk,
       |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
       |      AS nonspace,
       |    CAST(length(regexp_replace(text, '[^${cjk}A-Za-zÀ-ɏ]', '', 'g'))
       |      AS BIGINT) AS word_forming
       |  FROM w)
       |SELECT doc_id, dominant,
       |  CASE WHEN dominant = 'cjk' THEN n_words_cjk
       |       ELSE n_words_en END AS n_words,
       |  CASE WHEN dominant = 'cjk' THEN CAST(nonspace AS DOUBLE) / n_words_cjk
       |       ELSE CAST(word_chars AS DOUBLE) / n_words_en END
       |    AS mean_word_len,
       |  CASE WHEN dominant = 'cjk' THEN CAST(word_forming AS DOUBLE) / nonspace
       |       ELSE CAST(alpha_words AS DOUBLE) / n_words_en END
       |    AS alpha_frac,
       |  CAST(bullet_lines AS DOUBLE) / n_lines AS bullet_frac,
       |  CAST(ellipsis_lines AS DOUBLE) / n_lines AS ellipsis_frac,
       |  stop_hits,
       |  CAST(CASE WHEN dominant = 'cjk' THEN
       |         n_words_cjk >= 10 AND n_words_cjk <= 100000 AND
       |         CAST(bullet_lines AS DOUBLE) / n_lines <= 0.9 AND
       |         CAST(ellipsis_lines AS DOUBLE) / n_lines <= 0.3 AND
       |         CAST(word_forming AS DOUBLE) / nonspace >= 0.8
       |       ELSE
       |         n_words_en >= 10 AND n_words_en <= 100000 AND
       |         CAST(word_chars AS DOUBLE) / n_words_en >= 3.0 AND
       |         CAST(word_chars AS DOUBLE) / n_words_en <= 10.0 AND
       |         CAST(bullet_lines AS DOUBLE) / n_lines <= 0.9 AND
       |         CAST(ellipsis_lines AS DOUBLE) / n_lines <= 0.3 AND
       |         CAST(alpha_words AS DOUBLE) / n_words_en >= 0.8 AND
       |         stop_hits >= 2 END AS BIGINT) AS pass
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** q276's oracle: dominant via the shared class strings, then BOTH
    * dispatch branches — full-width vs ascii sentence delimiters, char
    * vs word 3-gram repetition — replayed over the same synthesis. */
  private def scriptSentencesOracle: String = {
    val counts = TextOps.ScriptRanges.map { case (n, body) =>
      s"coalesce(length(regexp_replace(text, '[^$body]', '', 'g')), 0)" +
        s" AS sc_$n"
    }.mkString(",\n    ")
    val names = TextOps.ScriptRanges.map(r => "sc_" + r._1)
    val dom = TextOps.ScriptRanges.map(_._1).foldRight("'none'") {
      (n, els) =>
        s"CASE WHEN sc_$n = mx AND mx > 0 THEN '$n' ELSE $els END"
    }
    s"""WITH syn AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 4 = 0 THEN
       |           repeat('深度学习模型训练数据质量。数据去重非常重要！',
       |                  CAST(doc_id % 5 + 2 AS INT))
       |         WHEN doc_id % 4 = 1 THEN 'GPU加速 ' || text
       |         ELSE text END AS text
       |  FROM documents WHERE text IS NOT NULL),
       |c AS (SELECT doc_id, text, $counts FROM syn),
       |m0 AS (SELECT *, greatest(${names.mkString(", ")}) AS mx FROM c),
       |m1 AS (SELECT doc_id, text, $dom AS dominant FROM m0),
       |s AS (
       |  SELECT doc_id, dominant, text,
       |    list_filter([trim(x) FOR x IN
       |      CASE WHEN dominant = 'cjk'
       |           THEN string_split_regex(text, '[.!?。！？]+')
       |           ELSE string_split_regex(text, '[.!?]+') END],
       |      x -> len(x) > 0) AS segs,
       |    string_split(lower(text), ' ') AS tk
       |  FROM m1)
       |SELECT doc_id, CAST(len(segs) AS INTEGER) AS n_sentences,
       |  CASE WHEN len(segs) > 0
       |       THEN CAST(list_sum([len(x) FOR x IN segs]) AS DOUBLE)
       |            / CAST(len(segs) AS DOUBLE)
       |       ELSE CAST(0 AS DOUBLE) END AS mean_sentence_chars,
       |  CASE WHEN dominant = 'cjk' THEN
       |         CASE WHEN length(lower(text)) < 3 THEN 0.0
       |              ELSE 1.0 - CAST(len(list_distinct(
       |                     [substr(lower(text), i, 3) FOR i IN
       |                      generate_series(1,
       |                        length(lower(text)) - 2)]))
       |                   AS DOUBLE) / (length(lower(text)) - 2) END
       |       ELSE
       |         CASE WHEN len(tk) < 3 THEN 0.0
       |              ELSE 1.0 - CAST(len(list_distinct(
       |                     [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
       |                      FOR i IN generate_series(1, len(tk) - 2)]))
       |                   AS DOUBLE) / (len(tk) - 2) END
       |       END AS rep3
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** q277's oracle: the scripted shingle maker replayed — char 3-grams
    * for cjk-dominant docs, the q113 word shingles (incl. the < 3-word
    * whole-text fallback) otherwise — through the q113 inverted-index
    * df measurement. */
  private def scriptBoilerplateOracle: String = {
    val counts = TextOps.ScriptRanges.map { case (n, body) =>
      s"coalesce(length(regexp_replace(text, '[^$body]', '', 'g')), 0)" +
        s" AS sc_$n"
    }.mkString(",\n    ")
    val names = TextOps.ScriptRanges.map(r => "sc_" + r._1)
    val dom = TextOps.ScriptRanges.map(_._1).foldRight("'none'") {
      (n, els) =>
        s"CASE WHEN sc_$n = mx AND mx > 0 THEN '$n' ELSE $els END"
    }
    s"""WITH syn AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 4 = 0 THEN
       |           '本页编号' || translate(CAST(doc_id AS VARCHAR),
       |             '0123456789', '零一二三四五六七八九') ||
       |           '的内容与其他页面不同。版权所有转载请注明出处'
       |         ELSE text END AS text
       |  FROM documents WHERE text IS NOT NULL),
       |c AS (SELECT doc_id, text, $counts FROM syn),
       |m0 AS (SELECT *, greatest(${names.mkString(", ")}) AS mx FROM c),
       |m1 AS (SELECT doc_id, text, $dom AS dominant FROM m0),
       |w AS (SELECT doc_id, dominant, text,
       |        string_split(lower(text), ' ') AS tk FROM m1),
       |sh AS (
       |  SELECT doc_id,
       |    CASE WHEN dominant = 'cjk' THEN
       |      CASE WHEN length(lower(text)) < 3 THEN CAST([] AS VARCHAR[])
       |           ELSE list_distinct([substr(lower(text), i, 3)
       |                FOR i IN generate_series(1,
       |                  length(lower(text)) - 2)]) END
       |    ELSE
       |      CASE WHEN len(tk) >= 3 THEN
       |        list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
       |                       FOR i IN generate_series(1, len(tk) - 2)])
       |      ELSE [array_to_string(tk, ' ')] END
       |    END AS sh
       |  FROM w),
       |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
       |df AS (SELECT shingle, count(DISTINCT doc_id) AS df
       |       FROM inv GROUP BY 1)
       |SELECT i.doc_id, count(*) AS n_shingles,
       |       CAST(sum(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_duplicated,
       |       round(CAST(sum(CASE WHEN df.df > 1 THEN 1 ELSE 0 END)
       |           AS DOUBLE) / count(*), 6) AS dup_fraction
       |FROM inv i JOIN df USING (shingle)
       |GROUP BY i.doc_id ORDER BY doc_id""".stripMargin
  }

  private def scriptProfileOracle: String = {
    val counts = TextOps.ScriptRanges.map { case (n, body) =>
      s"coalesce(length(regexp_replace(text, '[^$body]', '', 'g')), 0) AS $n"
    }.mkString(",\n       |       ").stripMargin
    val names = TextOps.ScriptRanges.map(_._1)
    val dom = names.foldRight("'none'") { (n, els) =>
      s"CASE WHEN $n = mx AND mx > 0 THEN '$n' ELSE $els END"
    }
    s"""WITH c AS (
       |  SELECT doc_id,
       |       ${counts}
       |  FROM documents),
       |m AS (SELECT *, greatest(${names.mkString(", ")}) AS mx FROM c)
       |SELECT doc_id, ${names.mkString(", ")},
       |       $dom AS dominant
       |FROM m ORDER BY doc_id""".stripMargin
  }

  private def splitLeakageOracle: String =
    splitLeakageOracleBy("CAST(doc_id AS VARCHAR)")

  /** q131: same report under a GROUP split (hash the source, not the id)
    * — the before/after measurement of group splitting as a leakage fix. */
  private def groupSplitLeakageOracle: String =
    splitLeakageOracleBy("source")

  private def splitLeakageOracleBy(keyExpr: String): String = {
    val matchSum = (0 until 16).map(k =>
      s"CASE WHEN sa.m$k = sb.m$k THEN 1 ELSE 0 END").mkString("\n         + ")
    val bucket =
      s"('0x' || substr(md5($keyExpr), 1, 8))::BIGINT % 100"
    s"""WITH $shingleHashCte,
       |$minhashCandCtes,
       |sp AS (
       |  SELECT doc_id,
       |         CASE WHEN $bucket < 80 THEN 'train'
       |              WHEN $bucket < 90 THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM documents)
       |SELECT c.id_a, c.id_b, pa.split AS split_a, pb.split AS split_b,
       |       round(($matchSum) / 16.0, 6) AS est_jaccard
       |FROM cand c
       |JOIN sig sa ON sa.doc_id = c.id_a
       |JOIN sig sb ON sb.doc_id = c.id_b
       |JOIN sp pa ON pa.doc_id = c.id_a
       |JOIN sp pb ON pb.doc_id = c.id_b
       |WHERE pa.split <> pb.split
       |ORDER BY id_a, id_b""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q24_minhash_lsh" -> minhashOracle,

    "q196_incremental_fuzzy_stored" -> storedFuzzyOracle,

    "q197_bpe_train" -> bpeTrainOracle,

    // q201: the CDC boundary rule replayed literally — boundary i where
    // md5 of the 8-gram ending at i starts with '0'; segments via lag,
    // the unbounded tail appended when the last boundary < len
    "q201_cdc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, coalesce(text, '') AS t FROM documents),
        |b AS (
        |  SELECT doc_id, i FROM (
        |    SELECT doc_id, t, unnest(generate_series(8, len(t))) AS i
        |    FROM d WHERE len(t) >= 8)
        |  WHERE substr(md5(substr(t, i - 7, 8)), 1, 1) = '0'),
        |mb AS (SELECT doc_id, max(i) AS m FROM b GROUP BY doc_id),
        |seg AS (
        |  SELECT doc_id,
        |         coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0)
        |           + 1 AS s,
        |         i AS e
        |  FROM b
        |  UNION ALL
        |  SELECT d.doc_id, coalesce(mb.m, 0) + 1, len(d.t)
        |  FROM d LEFT JOIN mb USING (doc_id)
        |  WHERE len(d.t) > coalesce(mb.m, 0)),
        |c AS (
        |  SELECT seg.doc_id,
        |         row_number() OVER (PARTITION BY seg.doc_id
        |                            ORDER BY seg.s) AS chunk_no,
        |         substr(d.t, seg.s, seg.e - seg.s + 1) AS chunk
        |  FROM seg JOIN d USING (doc_id))
        |SELECT doc_id, CAST(chunk_no AS INTEGER) AS chunk_no, chunk,
        |       md5(chunk) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_no""".stripMargin,

    // q207: per-position k-gram md5s, window starts, rightmost-min
    // selection via (min hash, then max pos among its holders), distinct
    // selections — the winnowing definition transcribed
    "q207_winnowing" ->
      s"""WITH ${winnowingCtesFrom("documents")}
        |SELECT DISTINCT sp.doc_id, CAST(sp.pos AS INTEGER) AS pos, p.h AS fp
        |FROM sp JOIN pos p ON p.doc_id = sp.doc_id AND p.i = sp.pos
        |ORDER BY sp.doc_id, pos""".stripMargin,

    // q208: the q207 chain over the clone-synthesized corpus, distinct
    // (doc, fp), the 1000-df cap, and the shared-count pair join
    "q208_winnowing_overlap" ->
      s"""WITH base AS (
        |  SELECT doc_id,
        |         array_to_string([substr(md5(CAST(doc_id AS VARCHAR)
        |             || ':' || CAST(i AS VARCHAR)), 1, 8)
        |           FOR i IN generate_series(1, 30)], ' ') AS text
        |  FROM documents),
        |nxt AS (
        |  SELECT doc_id - 1 AS doc_id, text AS ntext FROM base),
        |src AS (
        |  SELECT b.doc_id,
        |         CASE WHEN b.doc_id % 10 = 0 AND n.ntext IS NOT NULL
        |              THEN 'prefix words here ' || n.ntext
        |              ELSE b.text END AS text
        |  FROM base b LEFT JOIN nxt n USING (doc_id)),
        |${winnowingCtesFrom("src")},
        |fps AS (
        |  SELECT DISTINCT sp.doc_id, p.h AS fp
        |  FROM sp JOIN pos p ON p.doc_id = sp.doc_id AND p.i = sp.pos),
        |cold AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 1000)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(count(*) AS BIGINT) AS shared_fps
        |FROM fps a JOIN cold USING (fp)
        |JOIN fps b ON b.fp = a.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 8
        |ORDER BY id_a, id_b""".stripMargin,

    // q209: the identical digit synthesis and the Luhn fold as a list
    // comprehension; the extractor count equals the validity flag by
    // construction (only the one candidate is present)
    "q209_luhn_cards" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         '4532' || lpad(CAST(doc_id * 7919 % 1000000000000
        |           AS VARCHAR), 12, '0') AS c
        |  FROM documents),
        |chk AS (
        |  SELECT doc_id, c,
        |    (list_sum([CASE WHEN i % 2 = 0 THEN
        |        CASE WHEN CAST(rc[i] AS INTEGER) * 2 > 9
        |             THEN CAST(rc[i] AS INTEGER) * 2 - 9
        |             ELSE CAST(rc[i] AS INTEGER) * 2 END
        |      ELSE CAST(rc[i] AS INTEGER) END
        |      FOR i IN generate_series(1, len(rc))]) % 10 = 0) AS ok
        |  FROM (SELECT doc_id, c, string_split(reverse(c), '') AS rc
        |        FROM d))
        |SELECT doc_id, c AS candidate,
        |       CAST(ok AS INTEGER) AS luhn_valid,
        |       CAST(ok AS INTEGER) AS n_valid_found
        |FROM chk ORDER BY doc_id""".stripMargin,

    // q206: identical dyadic-prob synthesis, equal-width binning with
    // the top clamp, exact-quotient accuracy, rounded confidence/gap
    "q206_calibration_bins" ->
      """WITH s AS (
        |  SELECT CAST(doc_id % 129 AS DOUBLE) / 128.0 AS p,
        |         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |b AS (
        |  SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin, p, y
        |  FROM s),
        |g AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |         round(avg(p), 6) AS confidence,
        |         CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |           / count(*) AS accuracy
        |  FROM b GROUP BY bin)
        |SELECT bin, n, confidence, accuracy,
        |       round(abs(accuracy - confidence), 6) AS gap
        |FROM g ORDER BY bin""".stripMargin,

    // q204: the same word-slice turn synthesis, per-doc structure
    // aggregation via lag over the ordered roles; zero-turn docs kept
    // by the left join (the engine maps every input row)
    "q204_chat_stats" ->
      s"""WITH $chatTurnsCtes,
         |l AS (
         |  SELECT *, lag(role) OVER (PARTITION BY doc_id ORDER BY k)
         |    AS prev
         |  FROM turns),
         |agg AS (
         |  SELECT doc_id,
         |    CAST(count(*) AS BIGINT) AS n_turns,
         |    CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_user,
         |    CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_assistant,
         |    CAST(CASE WHEN count(*) > 1
         |           AND bool_and(prev IS NULL OR role <> prev)
         |         THEN 1 ELSE 0 END AS INTEGER) AS alternates,
         |    CAST(CASE WHEN min(k) = 0 THEN 1 ELSE 0 END AS INTEGER)
         |      AS starts_with_user,
         |    CAST(sum(CASE WHEN role = 'user' THEN len(content)
         |             ELSE 0 END) AS BIGINT) AS chars_user,
         |    CAST(sum(CASE WHEN role = 'assistant' THEN len(content)
         |             ELSE 0 END) AS BIGINT) AS chars_assistant
         |  FROM l GROUP BY doc_id)
         |SELECT w.doc_id,
         |  coalesce(agg.n_turns, 0) AS n_turns,
         |  coalesce(agg.n_user, 0) AS n_user,
         |  coalesce(agg.n_assistant, 0) AS n_assistant,
         |  coalesce(agg.alternates, 0) AS alternates,
         |  coalesce(agg.starts_with_user, 0) AS starts_with_user,
         |  coalesce(agg.chars_user, 0) AS chars_user,
         |  coalesce(agg.chars_assistant, 0) AS chars_assistant
         |FROM w LEFT JOIN agg USING (doc_id)
         |ORDER BY w.doc_id""".stripMargin,

    // q205: neighbor-clone synthesis + the rendered template, normalized
    // digest and keep-first window replayed
    "q205_chat_dedup" ->
      s"""WITH nxt AS (
         |  SELECT doc_id - 1 AS doc_id, text AS ntext FROM documents),
         |src AS (
         |  SELECT d.doc_id,
         |         CASE WHEN d.doc_id % 6 = 0 AND n.ntext IS NOT NULL
         |              THEN n.ntext ELSE d.text END AS text
         |  FROM documents d LEFT JOIN nxt n USING (doc_id)),
         |${chatTurnsCtesFrom("src")},
         |r AS (
         |  SELECT doc_id,
         |         string_agg('<|' || role || '|>' || content, ''
         |                    ORDER BY k) AS rendered
         |  FROM turns GROUP BY doc_id),
         |rr AS (
         |  SELECT w.doc_id, coalesce(r.rendered, '') AS rendered
         |  FROM w LEFT JOIN r USING (doc_id)),
         |dg AS (
         |  SELECT doc_id, rendered,
         |         md5(regexp_replace(lower(rendered), '\\s+', ' ', 'g'))
         |           AS digest
         |  FROM rr)
         |SELECT doc_id, rendered, digest,
         |       CAST(CASE WHEN row_number() OVER (PARTITION BY digest
         |              ORDER BY doc_id) = 1 THEN 1 ELSE 0 END AS INTEGER)
         |         AS keep
         |FROM dg ORDER BY doc_id""".stripMargin,

    // q203: both bucket LMs, the smoothed ln-ratio weight table over the
    // full domain, and the per-doc mean — the q95/q176 rounded-log
    // convention at the edge
    "q203_dsir_scores" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |         ('0x' || substr(md5(t), 1, 8))::BIGINT % 64 AS b
        |  FROM (SELECT doc_id, source,
        |               unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents WHERE text IS NOT NULL)
        |  WHERE len(t) > 0),
        |ct AS (SELECT b, count(*) AS c FROM tok
        |       WHERE source = 'src0' GROUP BY b),
        |cr AS (SELECT b, count(*) AS c FROM tok
        |       WHERE source <> 'src0' GROUP BY b),
        |dom AS (SELECT unnest(generate_series(0, 63)) AS b),
        |tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM ct),
        |tr AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cr),
        |w AS (
        |  SELECT dom.b,
        |         ln((coalesce(ct.c, 0) + 1) / CAST(tt.t + 64 AS DOUBLE))
        |       - ln((coalesce(cr.c, 0) + 1) / CAST(tr.t + 64 AS DOUBLE))
        |           AS w
        |  FROM dom
        |  LEFT JOIN ct ON ct.b = dom.b
        |  LEFT JOIN cr ON cr.b = dom.b
        |  CROSS JOIN tt CROSS JOIN tr),
        |f AS (SELECT doc_id, b, count(*) AS n FROM tok
        |      WHERE source <> 'src0' GROUP BY 1, 2),
        |sc AS (SELECT f.doc_id, sum(f.n * w.w) AS s,
        |              CAST(sum(f.n) AS BIGINT) AS n
        |       FROM f JOIN w ON w.b = f.b GROUP BY f.doc_id)
        |SELECT d.doc_id, coalesce(sc.n, 0) AS n_tokens,
        |       round(coalesce(sc.s / sc.n, 0.0), 6) AS dsir_score
        |FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
        |LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // q202: trainingShards' md5 shard + order replayed, then the greedy
    // capacity-reset walk as a recursive CTE (one step per row rank —
    // the sequential semantics no plain window expresses)
    "q202_sequence_packing" ->
      s"""WITH RECURSIVE $greedyWalkOracleCtes
         |SELECT shard, pack AS pack_id, CAST(pos AS INTEGER) AS pack_pos,
         |       doc_id, n_tokens,
         |       CAST(CASE WHEN n_tokens > 512 THEN 1 ELSE 0 END
         |         AS INTEGER) AS truncated
         |FROM walk ORDER BY shard, pack_id, pack_pos""".stripMargin,

    // q198: q175's hashed-feature CTE + the per-label integer weight
    // formula; logits are exact integer sums, the argmax window restates
    // the (logit DESC, label) tie order
    "q198_multiclass_linear" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(t), 1, 8))::BIGINT % 64 AS bucket,
        |         count(*) AS n
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents WHERE text IS NOT NULL)
        |  WHERE len(t) > 0 GROUP BY 1, 2),
        |wt AS (
        |  SELECT 'l' || CAST(li AS VARCHAR) AS label, bucket,
        |         CAST((bucket * (li + 2)) % 13 - 6 AS DOUBLE) AS weight
        |  FROM (SELECT unnest([0, 1, 2]) AS li)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bucket)),
        |dot AS (
        |  SELECT f.doc_id, wt.label, sum(f.n * wt.weight) AS logit
        |  FROM f JOIN wt ON wt.bucket = f.bucket
        |  GROUP BY 1, 2),
        |a AS (
        |  SELECT d.doc_id, l.label, coalesce(dot.logit, 0.0) AS logit
        |  FROM documents d
        |  CROSS JOIN (SELECT DISTINCT label FROM wt) l
        |  LEFT JOIN dot ON dot.doc_id = d.doc_id AND dot.label = l.label)
        |SELECT doc_id, label, logit,
        |       CAST(CASE WHEN row_number() OVER (PARTITION BY doc_id
        |              ORDER BY logit DESC, label) = 1
        |            THEN 1 ELSE 0 END AS INTEGER) AS pred
        |FROM a ORDER BY doc_id, label""".stripMargin,

    "q108_split_leakage" -> splitLeakageOracle,
    "q131_group_split_leakage" -> groupSplitLeakageOracle,
    "q135_script_profile" -> scriptProfileOracle,

    "q271_script_gates" -> scriptGatesOracle,

    // q274: the bootstrap replayed draw-for-draw — same md5 bucket
    // (VARCHAR-cast numbers per the md5-of-numbers rule), same exact
    // k/n divisions, same order-statistic ranks (3rd/98th of 100)
    "q274_bootstrap_ci" ->
      """WITH it0 AS (
        |  SELECT 'model_' || CAST(m AS VARCHAR) AS model,
        |         doc_id AS item,
        |         CASE WHEN (doc_id // 5 + m * 37) % 10 < m + 2
        |              THEN 1 ELSE 0 END AS p
        |  FROM documents, (SELECT unnest(generate_series(0, 7)) AS m)
        |  WHERE doc_id % 5 = 0),
        |it AS (
        |  SELECT model, item, p,
        |         CAST(row_number() OVER (PARTITION BY model
        |           ORDER BY item) - 1 AS BIGINT) AS rn
        |  FROM it0),
        |per AS (SELECT model, count(*) AS n, sum(p) AS wins
        |        FROM it GROUP BY model),
        |draws AS (
        |  SELECT model, n, CAST(k // n AS BIGINT) AS r, k % n AS i
        |  FROM (SELECT model, n,
        |          unnest(generate_series(0, n * 100 - 1)) AS k
        |        FROM per)),
        |dr AS (
        |  SELECT model, r,
        |         ('0x' || substr(md5(model || ':' ||
        |            CAST(r AS VARCHAR) || ':' ||
        |            CAST(i AS VARCHAR)), 1, 8))::BIGINT % n AS rn
        |  FROM draws),
        |res AS (
        |  SELECT d.model, d.r,
        |         CAST(sum(it.p) AS DOUBLE) / count(*) AS acc
        |  FROM dr d JOIN it ON it.model = d.model AND it.rn = d.rn
        |  GROUP BY d.model, d.r),
        |ci AS (
        |  SELECT model, (list_sort(list(acc)))[3] AS boot_lo,
        |         (list_sort(list(acc)))[98] AS boot_hi
        |  FROM res GROUP BY model)
        |SELECT per.model, per.n AS n_items,
        |       CAST(per.wins AS DOUBLE) / per.n AS accuracy,
        |       ci.boot_lo, ci.boot_hi,
        |       CAST(100 AS BIGINT) AS n_resamples
        |FROM per JOIN ci USING (model) ORDER BY model""".stripMargin,

    // q275: the paired resampling replayed — shared item set, one
    // md5 key stream for both sides, exact difference sums
    "q275_paired_delta" ->
      """WITH it0 AS (
        |  SELECT 'model_' || CAST(m AS VARCHAR) AS model,
        |         doc_id AS item,
        |         CASE WHEN (doc_id // 5 + m * 37) % 10 < m + 2
        |              THEN 1 ELSE 0 END AS p
        |  FROM documents, (SELECT unnest(generate_series(0, 7)) AS m)
        |  WHERE doc_id % 5 = 0),
        |sa AS (SELECT item, p AS pa FROM it0 WHERE model = 'model_5'),
        |sb AS (SELECT item, p AS pb FROM it0 WHERE model = 'model_2'),
        |it AS (
        |  SELECT sa.item, pa, pb,
        |         CAST(row_number() OVER (ORDER BY sa.item) - 1
        |           AS BIGINT) AS rn
        |  FROM sa JOIN sb USING (item)),
        |per AS (SELECT count(*) AS n, sum(pa) AS wa, sum(pb) AS wb
        |        FROM it),
        |draws AS (
        |  SELECT n, CAST(k // n AS BIGINT) AS r, k % n AS i
        |  FROM (SELECT n, unnest(generate_series(0, n * 100 - 1)) AS k
        |        FROM per)),
        |dr AS (
        |  SELECT r, ('0x' || substr(md5('model_5|model_2:' ||
        |           CAST(r AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
        |           1, 8))::BIGINT % n AS rn
        |  FROM draws),
        |res AS (
        |  SELECT d.r, CAST(sum(it.pa - it.pb) AS DOUBLE) / count(*)
        |           AS dd
        |  FROM dr d JOIN it USING (rn) GROUP BY d.r),
        |ci AS (SELECT (list_sort(list(dd)))[3] AS boot_lo,
        |              (list_sort(list(dd)))[98] AS boot_hi
        |       FROM res)
        |SELECT 'model_5' AS model_a, 'model_2' AS model_b,
        |       per.n AS n_items,
        |       CAST(per.wa - per.wb AS DOUBLE) / per.n AS delta,
        |       ci.boot_lo, ci.boot_hi,
        |       CAST(ci.boot_lo > 0 OR ci.boot_hi < 0 AS INT)
        |         AS significant,
        |       CAST(100 AS BIGINT) AS n_resamples
        |FROM per, ci""".stripMargin,

    // q272: the exact-substring pipeline replayed end-to-end — the same
    // 60-bit hash formula the GramHashes kernel computes (first 15 md5
    // hex chars), the same df cap, the same diagonal islands
    "q272_exact_substr" ->
      s"""$exactSubstrOracleCtes
        |SELECT id_a, id_b, CAST(a_start AS INT) AS a_start,
        |       CAST(lastp + 40 AS INT) AS a_end,
        |       CAST(b_start AS INT) AS b_start,
        |       CAST(lastp + 40 - diag AS INT) AS b_end,
        |       CAST(lastp + 40 - a_start AS INT) AS match_len
        |FROM sp ORDER BY id_a, id_b, a_start, b_start""".stripMargin,

    // q273: the full ExactSubstr LIFECYCLE replayed — spans (q272's
    // chain) -> keep-first cut manifest (running-max interval merge) ->
    // segment stitch (ordered string_agg of the text between cuts)
    "q273_exact_substr_cuts" ->
      s"""$exactSubstrOracleCtes,
        |cuts0 AS (
        |  SELECT DISTINCT id_b AS id, b_start AS s2,
        |         lastp + 40 - diag AS e2
        |  FROM sp),
        |cm1 AS (
        |  SELECT *, CASE WHEN s2 > coalesce(max(e2) OVER
        |      (PARTITION BY id ORDER BY s2, e2
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      s2 - 1) THEN 1 ELSE 0 END AS brk
        |  FROM cuts0),
        |cm2 AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY id
        |      ORDER BY s2, e2 ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS isl
        |  FROM cm1),
        |cm AS (SELECT id, isl, min(s2) AS cs, max(e2) AS ce
        |       FROM cm2 GROUP BY 1, 2),
        |seg AS (
        |  SELECT id, cs, ce, coalesce(lag(ce) OVER
        |      (PARTITION BY id ORDER BY cs), 0) AS prev
        |  FROM cm),
        |parts AS (
        |  SELECT c.doc_id,
        |    string_agg(substr(c.text, CAST(seg.prev + 1 AS INT),
        |      CAST(seg.cs - seg.prev AS INT)), '' ORDER BY seg.cs)
        |      AS head_part,
        |    max(seg.ce) AS last_e, count(*) AS n_cuts
        |  FROM corpus c JOIN seg ON seg.id = c.doc_id
        |  GROUP BY c.doc_id, c.text)
        |SELECT c.doc_id,
        |  CASE WHEN p.doc_id IS NULL THEN c.text
        |       ELSE p.head_part || substr(c.text,
        |         CAST(p.last_e + 1 AS INT)) END AS cleaned,
        |  coalesce(p.n_cuts, 0) AS n_cuts
        |FROM corpus c LEFT JOIN parts p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q136_drift_report" ->
      """WITH e AS (
        |  SELECT CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)),
        |                    1, 8))::BIGINT % 2 = 0
        |              THEN 'a' ELSE 'b' END AS coh, value AS v
        |  FROM events),
        |mn AS (SELECT coh, round(sum(v) / count(v), 6) AS m
        |       FROM e GROUP BY 1),
        |b0 AS (SELECT coh, CAST(floor(v / 50.0) AS BIGINT) AS bin,
        |              count(*) AS n
        |       FROM e WHERE v IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT coh, CAST(sum(n) AS DOUBLE) AS t FROM b0 GROUP BY 1),
        |s AS (SELECT coh, bin, n / t AS p FROM b0 JOIN tot USING (coh)),
        |pp AS (SELECT round(sum((sa.p - sb.p) * ln(sa.p / sb.p)), 6) AS psi
        |       FROM (SELECT bin, p FROM s WHERE coh = 'a') sa
        |       JOIN (SELECT bin, p FROM s WHERE coh = 'b') sb USING (bin)),
        |c AS (SELECT coh AS g, v, count(*) AS n0
        |      FROM e WHERE v IS NOT NULL GROUP BY 1, 2),
        |d AS (SELECT dv.v, dg.g, coalesce(c.n0, 0) AS n
        |      FROM (SELECT DISTINCT v FROM c) dv
        |      CROSS JOIN (SELECT DISTINCT g FROM c) dg
        |      LEFT JOIN c ON c.g = dg.g AND c.v = dv.v),
        |t2 AS (SELECT g, sum(n0) AS tt FROM c GROUP BY g),
        |f AS (SELECT d.g, d.v,
        |        CAST(CAST(sum(d.n) OVER (PARTITION BY d.g ORDER BY d.v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS DOUBLE) / CAST(t2.tt AS DOUBLE) AS f
        |      FROM d JOIN t2 ON t2.g = d.g),
        |kk AS (SELECT round(max(abs(a.f - b.f)), 6) AS ks
        |       FROM f a JOIN f b ON a.v = b.v AND a.g < b.g)
        |SELECT 'value' AS "column",
        |       (SELECT m FROM mn WHERE coh = 'a') AS mean_a,
        |       (SELECT m FROM mn WHERE coh = 'b') AS mean_b,
        |       pp.psi, kk.ks
        |FROM pp, kk""".stripMargin,

    "q105_ann_recall" -> annRecallOracle,

    "q227_matryoshka_topk" -> matryoshkaOracle,

    "q232_hard_negatives" -> hardNegativesOracle,
    "q255_bitext_margin" -> bitextMineOracle,
    "q256_retrieval_eval" -> retrievalEvalOracle,
    "q260_wilson_winrate" -> wilsonOracle,
    "q268_arena_leaderboard" -> arenaOracle,
    "q265_extractive_fragments" -> extractiveOracle,

    // q261: pass@k replayed — grouped n/c, the product form via a
    // generate_series fold of exact-integer divisions, n >= k guard
    "q261_pass_at_k" ->
      """WITH s AS (
        |  SELECT doc_id // 10 AS prompt_id,
        |    CASE WHEN (doc_id * 31) % 101 < 25 THEN 1 ELSE 0 END
        |      AS passed
        |  FROM documents),
        |b AS (
        |  SELECT prompt_id, count(*) AS n,
        |    CAST(sum(passed) AS BIGINT) AS c
        |  FROM s GROUP BY 1)
        |SELECT prompt_id, n, c,
        |  CASE WHEN n >= 1 THEN 1 - list_reduce(list_transform(
        |    generate_series(0, 0),
        |    i -> CAST(n - c - i AS DOUBLE) / CAST(n - i AS DOUBLE)),
        |    (x, y) -> x * y) END AS pass_at_1,
        |  CASE WHEN n >= 5 THEN 1 - list_reduce(list_transform(
        |    generate_series(0, 4),
        |    i -> CAST(n - c - i AS DOUBLE) / CAST(n - i AS DOUBLE)),
        |    (x, y) -> x * y) END AS pass_at_5
        |FROM b ORDER BY prompt_id""".stripMargin,

    "q235_unigram_segment" -> unigramSegmentOracle,

    "q246_dedup_cascade" -> cascadeOracle,

    // q247: same exact clip/pad accounting per candidate length
    "q247_seqlen_sweep" ->
      """WITH c AS (
        |  SELECT CAST(len(list_filter(string_split(lower(text), ' '),
        |           x -> len(x) > 0)) AS BIGINT) AS nt
        |  FROM documents WHERE text IS NOT NULL),
        |x AS (SELECT nt, CAST(l AS BIGINT) AS seq_len
        |      FROM c CROSS JOIN (SELECT unnest([16, 32, 64, 128]) AS l))
        |SELECT seq_len, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN nt > seq_len THEN 1 ELSE 0 END) AS BIGINT)
        |    AS truncated_docs,
        |  CAST(sum(greatest(nt - seq_len, 0)) AS BIGINT)
        |    AS truncated_tokens,
        |  CAST(sum(greatest(seq_len - nt, 0)) AS BIGINT)
        |    AS padding_tokens,
        |  CAST(sum(least(nt, seq_len)) AS BIGINT) AS kept_tokens,
        |  CAST(sum(least(nt, seq_len)) AS DOUBLE)
        |    / CAST(seq_len * count(*) AS DOUBLE) AS utilization
        |FROM x GROUP BY seq_len ORDER BY seq_len""".stripMargin,

    // q248: the q230 pair chain + one conditional-sum audit; the bias
    // flag is the 13/20 integer cross-product compare
    "q248_length_bias" ->
      """WITH s AS (
        |  SELECT doc_id // 5 AS prompt_id, doc_id AS sample_id,
        |    text AS sample,
        |    CASE WHEN doc_id % 13 = 0 THEN NULL
        |         ELSE CAST((doc_id * 31) % 101 AS DOUBLE) END AS score
        |  FROM documents WHERE text IS NOT NULL),
        |sc AS (SELECT * FROM s WHERE score IS NOT NULL),
        |cnt AS (SELECT prompt_id, count(*) AS n_scored
        |        FROM sc GROUP BY 1),
        |hi AS (
        |  SELECT prompt_id, sample AS chosen FROM (
        |    SELECT *, row_number() OVER (PARTITION BY prompt_id
        |      ORDER BY score DESC, sample_id ASC) AS rk FROM sc)
        |  WHERE rk = 1),
        |lo AS (
        |  SELECT prompt_id, sample AS rejected FROM (
        |    SELECT *, row_number() OVER (PARTITION BY prompt_id
        |      ORDER BY score ASC, sample_id DESC) AS rk FROM sc)
        |  WHERE rk = 1),
        |p AS (
        |  SELECT
        |    CAST(len(list_filter(string_split(lower(chosen), ' '),
        |      x -> len(x) > 0)) AS BIGINT) AS lc,
        |    CAST(len(list_filter(string_split(lower(rejected), ' '),
        |      x -> len(x) > 0)) AS BIGINT) AS lr
        |  FROM cnt JOIN hi USING (prompt_id) JOIN lo USING (prompt_id)
        |  WHERE n_scored >= 2 AND chosen IS NOT NULL
        |    AND rejected IS NOT NULL)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN lc > lr THEN 1 ELSE 0 END) AS BIGINT)
        |    AS chosen_longer,
        |  CAST(sum(CASE WHEN lr > lc THEN 1 ELSE 0 END) AS BIGINT)
        |    AS rejected_longer,
        |  CAST(sum(CASE WHEN lc = lr THEN 1 ELSE 0 END) AS BIGINT)
        |    AS len_ties,
        |  CAST(sum(lc - lr) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS mean_len_delta,
        |  CAST(CASE WHEN sum(CASE WHEN lc > lr THEN 1 ELSE 0 END) * 20
        |              > count(*) * 13 THEN 1 ELSE 0 END AS INTEGER)
        |    AS length_biased
        |FROM p""".stripMargin,

    // q245: same grid-snapped NLLs (window sums of dyadic values are
    // exact, so the rolling sum needs no fold machinery), same
    // earliest-start tie rule via (span_nll desc, start asc) rank
    "q245_nll_spans" ->
      """WITH l AS (
        |  SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '),
        |                     x -> len(x) > 0) AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, tk[i] AS token
        |  FROM (SELECT doc_id, tk,
        |               unnest(generate_series(1, len(tk))) AS i
        |        FROM l)),
        |v AS (SELECT token, CAST(count(*) AS BIGINT) AS c
        |      FROM tok GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM v),
        |sc AS (
        |  SELECT tok.doc_id, tok.pos,
        |    floor(ln(CAST(n_total AS DOUBLE) / CAST(c AS DOUBLE))
        |      * 1048576 + 0.5) / 1048576 AS nll
        |  FROM tok JOIN v USING (token) CROSS JOIN n),
        |sp AS (
        |  SELECT doc_id, pos,
        |    sum(nll) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS span_nll
        |  FROM sc
        |  QUALIFY pos >= 7),
        |mx AS (SELECT doc_id, CAST(max(pos) + 1 AS BIGINT) AS n_tokens
        |       FROM sp GROUP BY 1),
        |best AS (
        |  SELECT doc_id, pos, span_nll,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY span_nll DESC, pos ASC) AS rk
        |  FROM sp)
        |SELECT b.doc_id, m.n_tokens,
        |  CAST(b.pos - 7 AS BIGINT) AS start,
        |  CAST(b.pos AS BIGINT) AS "end", b.span_nll
        |FROM best b JOIN mx m USING (doc_id)
        |WHERE b.rk = 1 ORDER BY doc_id""".stripMargin,

    // q243: the q58 assignment replay + md5 score + QUALIFY rank cap
    "q243_cluster_quota" ->
      """WITH seeds AS (
        |  SELECT vec_id AS cluster, CAST(embedding AS DOUBLE[]) AS c
        |  FROM embeddings WHERE vec_id < 3),
        |sims AS (
        |  SELECT e.vec_id, s.cluster,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.c)
        |           AS sim
        |  FROM embeddings e CROSS JOIN seeds s),
        |a AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT vec_id, cluster,
        |           row_number() OVER (PARTITION BY vec_id
        |             ORDER BY sim DESC, cluster ASC) AS arank
        |    FROM sims)
        |  WHERE arank = 1),
        |sc AS (
        |  SELECT vec_id, cluster,
        |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 1000 AS score
        |  FROM a)
        |SELECT vec_id, cluster, score,
        |  CAST(row_number() OVER (PARTITION BY cluster
        |    ORDER BY score DESC, vec_id) AS INTEGER) AS rk
        |FROM sc QUALIFY rk <= 10 ORDER BY cluster, rk""".stripMargin,

    // q244: two exact-integer HITS rounds unrolled — auth from current
    // hubs, hubs from the UPDATED auths (Kleinberg's operation order)
    "q244_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT 'd' || CAST(doc_id % 10 AS VARCHAR) AS src,
        |           'd' || CAST((doc_id % 10 + 1) % 10 AS VARCHAR) AS dst
        |    FROM documents
        |    UNION ALL
        |    SELECT 'd' || CAST(doc_id % 10 AS VARCHAR),
        |           'd' || CAST((doc_id % 10 + 3) % 10 AS VARCHAR)
        |    FROM documents WHERE doc_id % 10 IN (0, 2, 4))),
        |n AS (SELECT DISTINCT node FROM
        |        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |a1 AS (SELECT n.node,
        |         CAST(coalesce(count(e.src), 0) AS BIGINT) AS v
        |       FROM n LEFT JOIN e ON e.dst = n.node GROUP BY n.node),
        |h1 AS (SELECT n.node,
        |         CAST(coalesce(sum(a1.v), 0) AS BIGINT) AS v
        |       FROM n LEFT JOIN e ON e.src = n.node
        |       LEFT JOIN a1 ON a1.node = e.dst GROUP BY n.node),
        |a2 AS (SELECT n.node,
        |         CAST(coalesce(sum(h1.v), 0) AS BIGINT) AS v
        |       FROM n LEFT JOIN e ON e.dst = n.node
        |       LEFT JOIN h1 ON h1.node = e.src GROUP BY n.node),
        |h2 AS (SELECT n.node,
        |         CAST(coalesce(sum(a2.v), 0) AS BIGINT) AS v
        |       FROM n LEFT JOIN e ON e.src = n.node
        |       LEFT JOIN a2 ON a2.node = e.dst GROUP BY n.node),
        |m AS (SELECT max(a2.v) AS ma, max(h2.v) AS mh
        |      FROM a2 CROSS JOIN h2),
        |j AS (SELECT a2.node, a2.v AS auth, h2.v AS hub
        |      FROM a2 JOIN h2 ON h2.node = a2.node)
        |SELECT node, auth, hub,
        |  CASE WHEN ma = 0 THEN 0.0
        |       ELSE CAST(auth AS DOUBLE) / CAST(ma AS DOUBLE) END
        |    AS auth_frac,
        |  CASE WHEN mh = 0 THEN 0.0
        |       ELSE CAST(hub AS DOUBLE) / CAST(mh AS DOUBLE) END
        |    AS hub_frac
        |FROM j CROSS JOIN m ORDER BY node""".stripMargin,

    // q242: the same first-occurrence prefix-distinct + power-of-two
    // checkpoints; all five OLS sums re-folded in rank order
    "q242_heaps_fit" ->
      """WITH dt AS (
        |  SELECT source, doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> len(x) > 0)
        |      AS tk
        |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
        |dr AS (
        |  SELECT source, doc_id, tk, CAST(len(tk) AS BIGINT) AS nt,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |      AS BIGINT) AS r
        |  FROM dt),
        |ct AS (
        |  SELECT source, r,
        |    CAST(sum(nt) OVER (PARTITION BY source ORDER BY r
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumtok
        |  FROM dr),
        |nb AS (
        |  SELECT source, fr AS r, CAST(count(*) AS BIGINT) AS newt
        |  FROM (SELECT source, token, min(r) AS fr
        |        FROM (SELECT source, r, unnest(tk) AS token FROM dr)
        |        GROUP BY 1, 2)
        |  GROUP BY 1, 2),
        |cd AS (
        |  SELECT c.source, c.r, c.cumtok,
        |    CAST(sum(coalesce(nb.newt, 0)) OVER (PARTITION BY c.source
        |      ORDER BY c.r ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumdist
        |  FROM ct c LEFT JOIN nb ON nb.source = c.source AND nb.r = c.r),
        |pts AS (
        |  SELECT source, r,
        |    floor(ln(CAST(cumtok AS DOUBLE)) * 1048576 + 0.5) / 1048576
        |      AS lx,
        |    floor(ln(CAST(cumdist AS DOUBLE)) * 1048576 + 0.5) / 1048576
        |      AS ly
        |  FROM cd WHERE (r & (r - 1)) = 0 AND cumtok > 0 AND cumdist > 0),
        |g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_points,
        |    list_sort(list(struct_pack(r := r, lx := lx, ly := ly))) AS l
        |  FROM pts GROUP BY source),
        |f AS (
        |  SELECT source, n_points, CAST(n_points AS DOUBLE) AS cn,
        |    list_reduce(list_transform(l, x -> x.lx), (a, b) -> a + b)
        |      AS sx,
        |    list_reduce(list_transform(l, x -> x.ly), (a, b) -> a + b)
        |      AS sy,
        |    list_reduce(list_transform(l, x -> x.lx * x.ly),
        |      (a, b) -> a + b) AS sxy,
        |    list_reduce(list_transform(l, x -> x.lx * x.lx),
        |      (a, b) -> a + b) AS sxx,
        |    list_reduce(list_transform(l, x -> x.ly * x.ly),
        |      (a, b) -> a + b) AS syy
        |  FROM g)
        |SELECT source, n_points,
        |  CASE WHEN cn * sxx - sx * sx = 0 THEN NULL
        |       ELSE (cn * sxy - sx * sy) / (cn * sxx - sx * sx) END
        |    AS beta,
        |  CASE WHEN cn * sxx - sx * sx = 0 THEN NULL
        |       ELSE (sy - ((cn * sxy - sx * sy) / (cn * sxx - sx * sx))
        |             * sx) / cn END AS ln_k,
        |  CASE WHEN cn * sxx - sx * sx = 0 OR cn * syy - sy * sy = 0
        |       THEN NULL
        |       ELSE (cn * sxy - sx * sy) * (cn * sxy - sx * sy)
        |            / ((cn * sxx - sx * sx) * (cn * syy - sy * sy)) END
        |    AS r2
        |FROM f ORDER BY source""".stripMargin,

    // q241: the relational replay of the packed bitset — same md5
    // positions, same all-k conjunction, so even false positives match
    "q241_bloom_gate" ->
      """WITH docs AS (SELECT doc_id, source FROM documents),
        |seen AS (
        |  SELECT DISTINCT 'https://www.' || source || '.example.com/p'
        |    || CAST(doc_id % 997 AS VARCHAR) AS url
        |  FROM docs WHERE doc_id % 3 = 0),
        |cand AS (
        |  SELECT DISTINCT 'https://www.' || source || '.example.com/p'
        |    || CAST(doc_id % 997 AS VARCHAR) AS url
        |  FROM docs),
        |ks AS (SELECT unnest([1, 2, 3]) AS i),
        |spos AS (
        |  SELECT DISTINCT
        |    ('0x' || substr(md5(url || ':' || CAST(i AS VARCHAR)), 1, 15))
        |      ::BIGINT % 65536 AS p
        |  FROM seen CROSS JOIN ks),
        |cpos AS (
        |  SELECT url,
        |    ('0x' || substr(md5(url || ':' || CAST(i AS VARCHAR)), 1, 15))
        |      ::BIGINT % 65536 AS p
        |  FROM cand CROSS JOIN ks),
        |hits AS (
        |  SELECT url,
        |    CAST(min(CASE WHEN s.p IS NULL THEN 0 ELSE 1 END)
        |      AS INTEGER) AS bloom_hit
        |  FROM cpos c LEFT JOIN spos s ON s.p = c.p GROUP BY url)
        |SELECT c.url, h.bloom_hit,
        |  CAST(CASE WHEN s.url IS NULL THEN 0 ELSE 1 END AS INTEGER)
        |    AS exact_hit
        |FROM cand c
        |JOIN hits h USING (url)
        |LEFT JOIN seen s ON s.url = c.url
        |ORDER BY url""".stripMargin,

    // q240: the same token-keyed multiset-overlap join; the dup flag is
    // the integer cross-product compare, best ties to the lowest pool id
    "q240_rouge_gate" ->
      """WITH pool AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |         x -> len(x) > 0) AS tk
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 5 = 0),
        |cand AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |         x -> len(x) > 0) AS tk
        |  FROM documents
        |  WHERE text IS NOT NULL AND doc_id % 101 = 7
        |    AND doc_id % 5 <> 0),
        |pt AS (SELECT doc_id AS pool_id, token,
        |         CAST(count(*) AS BIGINT) AS pc
        |       FROM (SELECT doc_id, unnest(tk) AS token FROM pool)
        |       GROUP BY 1, 2),
        |ct AS (SELECT doc_id AS cand_id, token,
        |         CAST(count(*) AS BIGINT) AS cc
        |       FROM (SELECT doc_id, unnest(tk) AS token FROM cand)
        |       GROUP BY 1, 2),
        |plen AS (SELECT pool_id, CAST(sum(pc) AS BIGINT) AS lp
        |         FROM pt GROUP BY 1),
        |clen AS (SELECT cand_id, CAST(sum(cc) AS BIGINT) AS lc
        |         FROM ct GROUP BY 1),
        |pairs AS (
        |  SELECT pool_id, cand_id, CAST(sum(least(pc, cc)) AS BIGINT) AS o
        |  FROM pt JOIN ct USING (token) GROUP BY 1, 2),
        |scored AS (
        |  SELECT cand_id, pool_id,
        |    CAST(2 * o AS DOUBLE) / CAST(lc + lp AS DOUBLE) AS f1,
        |    CASE WHEN 2 * 10 * o >= 7 * (lc + lp) THEN 1 ELSE 0 END AS dup
        |  FROM pairs JOIN clen USING (cand_id) JOIN plen USING (pool_id)),
        |best AS (
        |  SELECT cand_id, f1 AS best_f1, pool_id AS best_pool_id, mdup
        |  FROM (SELECT cand_id, f1, pool_id,
        |          max(dup) OVER (PARTITION BY cand_id) AS mdup,
        |          row_number() OVER (PARTITION BY cand_id
        |            ORDER BY f1 DESC, pool_id ASC) AS rk
        |        FROM scored)
        |  WHERE rk = 1)
        |SELECT c.doc_id AS cand_id,
        |  CAST(coalesce(l.lc, 0) AS BIGINT) AS n_tokens,
        |  coalesce(b.best_f1, 0.0) AS best_f1, b.best_pool_id,
        |  CAST(1 - coalesce(b.mdup, 0) AS INTEGER) AS keep
        |FROM cand c
        |LEFT JOIN clen l ON l.cand_id = c.doc_id
        |LEFT JOIN best b ON b.cand_id = c.doc_id
        |ORDER BY cand_id""".stripMargin,

    // q239: the same scaled-integer EMD — cumulants and the t flag are
    // exact 64-bit integers; the only float is the final division
    "q239_t_closeness" ->
      """WITH d AS (
        |  SELECT source, CAST(n_chars // 10 AS BIGINT) AS bin,
        |         doc_id % 7 AS v
        |  FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
        |               CAST(count(DISTINCT v) AS BIGINT) AS m FROM d),
        |gdist AS (SELECT v, CAST(count(*) AS BIGINT) AS gc
        |         FROM d GROUP BY 1),
        |grp AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS group_n
        |        FROM d GROUP BY 1, 2),
        |cells AS (SELECT source, bin, v, CAST(count(*) AS BIGINT) AS c
        |          FROM d GROUP BY 1, 2, 3),
        |cum AS (
        |  SELECT g.source, g.bin, g.group_n, t.n_total, t.m,
        |    CAST(sum(coalesce(c.c, 0) * t.n_total - gl.gc * g.group_n)
        |      OVER (PARTITION BY g.source, g.bin ORDER BY gl.v
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumv
        |  FROM grp g
        |  CROSS JOIN tot t
        |  CROSS JOIN gdist gl
        |  LEFT JOIN cells c
        |    ON c.source = g.source AND c.bin = g.bin AND c.v = gl.v),
        |e AS (
        |  SELECT source, bin, group_n,
        |    CAST(sum(abs(cumv)) AS BIGINT) AS emd_num,
        |    group_n * n_total * greatest(m - 1, 1) AS den
        |  FROM cum GROUP BY source, bin, group_n, n_total, m)
        |SELECT source, bin, group_n, emd_num,
        |  CAST(emd_num AS DOUBLE) / CAST(den AS DOUBLE) AS emd,
        |  CAST(CASE WHEN emd_num * 20 > den * 3 THEN 1 ELSE 0 END
        |    AS INTEGER) AS above_t
        |FROM e ORDER BY source, bin""".stripMargin,

    // q238: the water-filling replay — same window order, same virtual
    // k=0 anchor row, same single division; budget re-derived as
    // floor(1.5·Σ tokens)
    "q238_epoch_allocation" ->
      """WITH tokc AS (
        |  SELECT source,
        |    CAST(sum(len(list_filter(string_split(lower(text), ' '),
        |      x -> len(x) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY source),
        |caps AS (
        |  SELECT source, n_tokens,
        |    CAST(1 + ('0x' || substr(md5(source), 1, 8))::BIGINT % 4
        |      AS DOUBLE) AS cap
        |  FROM tokc),
        |b AS (SELECT floor(1.5 * CAST(sum(n_tokens) AS DOUBLE))
        |        AS budget FROM tokc),
        |tot AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS totTok,
        |         sum(n_tokens * cap) AS totCap,
        |         max(cap) AS maxCap
        |  FROM caps),
        |r AS (
        |  SELECT source AS src, n_tokens AS tok, cap,
        |    coalesce(sum(n_tokens * cap) OVER (ORDER BY cap, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS satPrev,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY cap, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS tokPrev
        |  FROM caps
        |  UNION ALL
        |  SELECT '', 0, 0.0, 0.0, 0),
        |seg AS (
        |  SELECT satPrev + cap * tok AS satK, tokPrev + tok AS tokK
        |  FROM (
        |    SELECT r.*, row_number() OVER (ORDER BY cap DESC, src DESC)
        |      AS rk
        |    FROM r CROSS JOIN tot CROSS JOIN b
        |    WHERE satPrev + cap * CAST(totTok - tokPrev AS DOUBLE)
        |          <= budget)
        |  WHERE rk = 1),
        |lvl AS (
        |  SELECT CASE WHEN totCap <= budget THEN maxCap
        |         ELSE (budget - satK)
        |              / CAST(totTok - tokK AS DOUBLE) END AS t,
        |    CAST(CASE WHEN totCap < budget THEN 1 ELSE 0 END
        |      AS INTEGER) AS short
        |  FROM seg CROSS JOIN tot CROSS JOIN b)
        |SELECT source, n_tokens, cap AS epoch_cap,
        |  least(cap, t) AS epochs,
        |  CAST(floor(CAST(n_tokens AS DOUBLE) * least(cap, t))
        |    AS BIGINT) AS alloc_tokens,
        |  1 - short AS budget_met
        |FROM caps CROSS JOIN lvl ORDER BY source""".stripMargin,

    // q237: bigrams via the q219 index idiom; ratio is the unrounded
    // exact-integer quotient
    "q237_ngram_diversity" ->
      """WITH toks AS (
        |  SELECT source,
        |         list_filter(string_split(lower(text), ' '),
        |                     x -> len(x) > 0) AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT source, tk[i] || ' ' || tk[i + 1] AS gram
        |  FROM (SELECT source, tk,
        |               unnest(generate_series(1, len(tk) - 1)) AS i
        |        FROM toks WHERE len(tk) >= 2))
        |SELECT source, count(*) AS n_ngrams,
        |       count(DISTINCT gram) AS n_distinct,
        |       CAST(count(DISTINCT gram) AS DOUBLE) / count(*)
        |         AS distinct_ratio
        |FROM g GROUP BY source ORDER BY source""".stripMargin,

    // q236: the shared DP prelude + frequency-weighted piece recount +
    // add-one re-estimation
    "q236_unigram_em" ->
      s"""WITH $unigramDpCtes,
         |wf AS (SELECT t AS word, count(*) AS freq FROM tok GROUP BY 1),
         |segf AS (
         |  SELECT a12.word, segs FROM a12
         |  JOIN (SELECT word, len(word) AS wl FROM w) lw
         |    ON a12.word = lw.word AND a12.i = lw.wl),
         |pc AS (
         |  SELECT unnest(string_split(segs, '|')) AS piece, freq
         |  FROM segf JOIN wf USING (word)),
         |cnt2 AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS n
         |         FROM pc GROUP BY 1),
         |keptv AS (
         |  SELECT v.piece, CAST(coalesce(cnt2.n, 0) AS BIGINT) AS n
         |  FROM v LEFT JOIN cnt2 USING (piece)),
         |t2 AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
         |              count(*) AS k FROM keptv)
         |SELECT piece, n,
         |  round(ln(CAST(n + 1 AS DOUBLE) / CAST(tn + k AS DOUBLE)), 6)
         |    AS lnp
         |FROM keptv CROSS JOIN t2 ORDER BY piece""".stripMargin,
    "q125_random_project" -> randomProjectOracle,
    "q126_lsh_recall" -> lshRecallOracle,
    "q137_projected_ann" -> projectedAnnOracle,

    // q142: the full fuzzy-decontamination pipeline in SQL — portable
    // band candidates restricted to train×test crossings, exact Jaccard
    // verify, anti-join of the contaminated train ids
    "q142_decontaminate_fuzzy" ->
      s"""WITH $shingleHashCte,
         |$minhashCandCtes,
         |inv AS (
         |  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM sh),
         |sp AS (
         |  SELECT doc_id,
         |         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
         |                    1, 8))::BIGINT % 100 < 80 THEN 'train'
         |              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
         |                    1, 8))::BIGINT % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM documents),
         |cross_cand AS (
         |  SELECT c.id_a, c.id_b FROM cand c
         |  JOIN sp a ON a.doc_id = c.id_a
         |  JOIN sp b ON b.doc_id = c.id_b
         |  WHERE (a.split = 'train' AND b.split = 'test')
         |     OR (a.split = 'test' AND b.split = 'train')),
         |verified AS (
         |  SELECT c.id_a, c.id_b
         |  FROM cross_cand c
         |  JOIN inv a ON a.doc_id = c.id_a
         |  JOIN inv b ON b.doc_id = c.id_b AND b.shingle = a.shingle
         |  GROUP BY c.id_a, c.id_b, a.n_sh, b.n_sh
         |  HAVING CAST(count(*) AS DOUBLE) /
         |         (a.n_sh + b.n_sh - count(*)) >= 0.4),
         |contaminated AS (
         |  SELECT DISTINCT CASE WHEN sa.split = 'train' THEN v.id_a
         |                       ELSE v.id_b END AS doc_id
         |  FROM verified v JOIN sp sa ON sa.doc_id = v.id_a)
         |SELECT d.doc_id FROM documents d
         |JOIN sp ON sp.doc_id = d.doc_id
         |WHERE sp.split = 'train'
         |  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
         |ORDER BY d.doc_id""".stripMargin,

    // q139/q140: the oracle derives the EXPECTED canonical URL straight
    // from the synthesis formulas (independent of the normalizer's regex
    // chain); blocklist survival is the doc_id % 7 co.uk minority
    "q139_url_normalize" ->
      s"""SELECT doc_id,
         |  (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
         |    || '://' ||
         |  (CASE WHEN doc_id % 7 = 0 THEN 'files.' || source || '.co.uk'
         |        ELSE 'www.' || source || '.example.com' END) ||
         |  (CASE WHEN doc_id % 3 = 0 AND doc_id % 2 <> 0 THEN ':443'
         |        ELSE '' END) ||
         |  '/Data/set-' || CAST(doc_id % 5 AS VARCHAR) ||
         |  '?id=' || CAST(doc_id AS VARCHAR) AS url_norm,
         |  (CASE WHEN doc_id % 7 = 0 THEN source || '.co.uk'
         |        ELSE 'example.com' END) AS reg_domain
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q140_domain_blocklist" ->
      "SELECT doc_id FROM documents WHERE doc_id % 7 = 0 ORDER BY doc_id",

    // q141: the zlib worst-case bound (len + 5·ceil(len/16383) + 11) makes
    // 0 < ratio < 2 a mathematical certainty for every text in the corpus
    // (min length 44 > 11), for ANY compliant zlib — so the oracle asserts
    // it as a constant; the ratio VALUE stays spec-gated (ExtensionsSpec
    // bit-parity with a directly-driven JDK Deflater)
    "q141_compression_ratio" ->
      """SELECT doc_id, CAST(1 AS BIGINT) AS ratio_in_bounds
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q143: the oracle re-derives the registrable domain straight from
    // the URL synthesis formula (co.uk minority vs the example.com hot
    // domain) and replays the same md5-of-decimal-id window order
    "q143_domain_cap" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN source || '.co.uk'
        |              ELSE 'example.com' END AS dom
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, row_number() OVER (
        |    PARTITION BY dom
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM d)
        |SELECT doc_id FROM r WHERE rk <= 10 ORDER BY doc_id""".stripMargin,

    // q144: identical markup synthesis + the identical regex chain
    // (every pattern in the Java-regex ∩ RE2 subset; DuckDB needs the
    // 'g' flag to match Spark's replace-all; entity unescape via literal
    // replace() in the same order, &amp; last)
    "q144_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>D' || CAST(doc_id AS VARCHAR) ||
        |    '</title><style>p { color: #333; }</style>' ||
        |    '<script>var x = 1 < 2 && ''doc'';</script></head>' ||
        |    '<body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' ||
        |    text ||
        |    ' &amp; more &lt;tags&gt;</p><!-- hidden --></body></html>'
        |      AS html
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(html,
        |            '(?is)<(script|style)[^>]*>.*?</(script|style)>',
        |            ' ', 'g'),
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]+>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean_text
        |FROM h ORDER BY doc_id""".stripMargin,

    // q145: the rule battery re-derived with DuckDB list comprehensions
    // over the same split arrays; exact-quotient doubles emitted
    // UNROUNDED (one division over exact integer counts — bit-identical)
    "q145_gopher_rules" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> x <> '') AS words,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(words) AS BIGINT) AS n_words,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(list_sum(list_transform(words, x -> length(x)))
        |      AS BIGINT) AS word_chars,
        |    CAST(len(list_filter(words, x -> regexp_matches(x, '[a-z]')))
        |      AS BIGINT) AS alpha_words,
        |    CAST(len(list_filter(lines,
        |      x -> regexp_matches(x, '^\s*[-*•]'))) AS BIGINT)
        |      AS bullet_lines,
        |    CAST(len(list_filter(lines,
        |      x -> regexp_matches(x, '\.{3}\s*$'))) AS BIGINT)
        |      AS ellipsis_lines,
        |    CAST(len(list_filter(
        |      ['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(words, s))) AS BIGINT) AS stop_hits
        |  FROM w)
        |SELECT doc_id, n_words,
        |  CAST(word_chars AS DOUBLE) / n_words AS mean_word_len,
        |  CAST(alpha_words AS DOUBLE) / n_words AS alpha_frac,
        |  CAST(bullet_lines AS DOUBLE) / n_lines AS bullet_frac,
        |  CAST(ellipsis_lines AS DOUBLE) / n_lines AS ellipsis_frac,
        |  stop_hits,
        |  CAST(n_words >= 10 AND n_words <= 100000 AND
        |       CAST(word_chars AS DOUBLE) / n_words >= 3.0 AND
        |       CAST(word_chars AS DOUBLE) / n_words <= 10.0 AND
        |       CAST(bullet_lines AS DOUBLE) / n_lines <= 0.9 AND
        |       CAST(ellipsis_lines AS DOUBLE) / n_lines <= 0.3 AND
        |       CAST(alpha_words AS DOUBLE) / n_words >= 0.8 AND
        |       stop_hits >= 2 AS BIGINT) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

    "q146_rrf_fusion" -> rrfOracle,

    // q151: every (link, domain) row re-derived from the synthesis
    // formulas — fully independent of the extraction regex
    "q151_link_extract" ->
      """WITH l1 AS (
        |  SELECT doc_id, 1 AS link_no,
        |    'https://www.' || source || '.example.com/d'
        |      || CAST(doc_id AS VARCHAR) AS link,
        |    'example.com' AS link_domain
        |  FROM documents),
        |l2 AS (
        |  SELECT doc_id, 2 AS link_no,
        |    '/rel/p' || CAST(doc_id % 7 AS VARCHAR) AS link,
        |    CAST(NULL AS VARCHAR) AS link_domain
        |  FROM documents),
        |l3 AS (
        |  SELECT doc_id, 3 AS link_no,
        |    'https://cdn.' || source || '.co.uk/a.css' AS link,
        |    source || '.co.uk' AS link_domain
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT * FROM (SELECT * FROM l1 UNION ALL SELECT * FROM l2
        |               UNION ALL SELECT * FROM l3)
        |ORDER BY doc_id, link_no""".stripMargin,

    // q152: the same within-word pair generation via DuckDB list
    // comprehension; (n DESC, pair) is a total order so the top-40
    // boundary cannot flip
    "q152_bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '),
        |         t -> len(t) > 1)) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (
        |  SELECT unnest([substr(t, i, 2)
        |                 FOR i IN generate_series(1, len(t) - 1)]) AS pair
        |  FROM w)
        |SELECT pair, count(*) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 40""".stripMargin,

    // q153: distinct (term, doc) domain, ordered list slice replays the
    // pre-collect cap, df counted over the FULL domain
    "q153_inverted_index" ->
      """WITH td AS (
        |  SELECT DISTINCT doc_id, t AS term FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE len(t) > 0),
        |g AS (
        |  SELECT term, count(*) AS df,
        |         list(doc_id ORDER BY doc_id) AS post
        |  FROM td GROUP BY term)
        |SELECT term, df, array_to_string(post[1:20], ',') AS postings,
        |       CAST(df > 20 AS INTEGER) AS truncated
        |FROM g WHERE df >= 2 ORDER BY term""".stripMargin,

    // q154: the identical merge fold replayed as chained non-regex
    // replace calls over the char-split word (built by [[bpeOracleExpr]]
    // from the same BpeMerges constant — one source of truth)
    "q154_bpe_encode" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest(ws) AS word,
         |         unnest(generate_series(1, len(ws))) AS word_no
         |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |               t -> len(t) > 0) AS ws
         |        FROM documents WHERE text IS NOT NULL))
         |SELECT doc_id, CAST(word_no AS INTEGER) AS word_no, word,
         |       ${bpeOracleExpr("word")} AS encoded,
         |       CAST(len(string_split(${bpeOracleExpr("word")}, ' '))
         |         AS INTEGER) AS n_subwords
         |FROM w ORDER BY doc_id, word_no""".stripMargin,

    // q269: the 80-merge kernel fold replayed via the boundary-aware
    // doubled-space transcription, one CTE layer per merge (built by
    // [[bpeKernelOracleCtes]] from the same BpeMergesBig constant — one
    // source of truth)
    "q269_bpe_encode_kernel" ->
      s"""WITH mbase AS (
         |  SELECT doc_id,
         |         CAST(unnest(generate_series(1, least(len(ws), 3)))
         |           AS INTEGER) AS word_no,
         |         array_to_string(string_split(unnest(ws[1:3]), ''), ' ')
         |           AS enc
         |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |               t -> len(t) > 0) AS ws
         |        FROM documents
         |        WHERE text IS NOT NULL AND doc_id % 10 = 0)),
         |$bpeKernelOracleCtes
         |SELECT doc_id, word_no, enc AS encoded,
         |       CAST(len(string_split(enc, ' ')) AS INTEGER) AS n_subwords
         |FROM m${BpeMergesBig.length - 1}
         |ORDER BY doc_id, word_no""".stripMargin,

    // q270: dims re-derived from the synthesis formulas (decoder-
    // independent); the in-bounds flag asserted constant — the decoded
    // means themselves are decoder-defined (q141 bound-oracle pattern)
    "q270_jpeg_features" ->
      """SELECT doc_id AS asset_id,
        |       CAST(4 + doc_id % 13 AS BIGINT) AS width,
        |       CAST(4 + doc_id % 7 AS BIGINT) AS height,
        |       CASE WHEN doc_id % 6 = 0 THEN 'jpeg' ELSE 'png' END
        |         AS codec,
        |       CAST(1 AS BIGINT) AS means_in_bounds
        |FROM documents WHERE doc_id % 3 = 0
        |ORDER BY asset_id""".stripMargin,

    // q155: three unrolled CTE iterations of the same unnormalized
    // update; power-of-two outdegrees + dyadic damping make every
    // double exact, so no rounding is needed for bit parity
    "q155_domain_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT 'd' || CAST(doc_id % 10 AS VARCHAR) AS src,
        |           'd' || CAST((doc_id % 10 + 1) % 10 AS VARCHAR) AS dst
        |    FROM documents
        |    UNION ALL
        |    SELECT 'd' || CAST(doc_id % 10 AS VARCHAR),
        |           'd' || CAST((doc_id % 10 + 3) % 10 AS VARCHAR)
        |    FROM documents WHERE doc_id % 10 IN (0, 2, 4))),
        |n AS (SELECT DISTINCT node FROM
        |        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1 AS DOUBLE) AS pr FROM n),
        |r1 AS (SELECT n.node, CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE)
        |         * coalesce(sum(r0.pr / deg.outdeg), 0) AS pr
        |       FROM n LEFT JOIN e ON e.dst = n.node
        |       LEFT JOIN deg ON deg.src = e.src
        |       LEFT JOIN r0 ON r0.node = e.src GROUP BY n.node),
        |r2 AS (SELECT n.node, CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE)
        |         * coalesce(sum(r1.pr / deg.outdeg), 0) AS pr
        |       FROM n LEFT JOIN e ON e.dst = n.node
        |       LEFT JOIN deg ON deg.src = e.src
        |       LEFT JOIN r1 ON r1.node = e.src GROUP BY n.node),
        |r3 AS (SELECT n.node, CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE)
        |         * coalesce(sum(r2.pr / deg.outdeg), 0) AS pr
        |       FROM n LEFT JOIN e ON e.dst = n.node
        |       LEFT JOIN deg ON deg.src = e.src
        |       LEFT JOIN r2 ON r2.node = e.src GROUP BY n.node)
        |SELECT node, pr FROM r3 ORDER BY node""".stripMargin,

    // q156: same (label, token) counts; the smoothed probability is one
    // exact-integer division, bit-identical without rounding
    "q156_nb_train" ->
      """WITH p AS (
        |  SELECT source AS label, tok AS token, count(*) AS n
        |  FROM (SELECT source,
        |          unnest(list_filter(string_split(lower(text), ' '),
        |                 x -> len(x) > 0)) AS tok
        |        FROM documents
        |        WHERE text IS NOT NULL AND source IS NOT NULL)
        |  GROUP BY 1, 2),
        |lt AS (SELECT label, CAST(sum(n) AS BIGINT) AS label_tokens
        |       FROM p GROUP BY label),
        |v AS (SELECT count(DISTINCT token) AS vocab FROM p)
        |SELECT p.label, p.token, p.n, lt.label_tokens, v.vocab,
        |       CAST(p.n + 1 AS DOUBLE)
        |         / CAST(lt.label_tokens + v.vocab AS DOUBLE)
        |         AS smoothed_prob
        |FROM p JOIN lt USING (label) CROSS JOIN v
        |ORDER BY label, token""".stripMargin,

    // q157: identical injection (chr(65533) = U+FFFD, chr(7) = BEL) and
    // identical strip-length counting; fraction is an exact quotient
    "q157_mojibake" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN text || chr(65533) || chr(65533)
        |         WHEN doc_id % 4 = 1 THEN chr(7) || text
        |         ELSE text END AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, coalesce(t, '') AS t FROM d),
        |c AS (
        |  SELECT doc_id, len(t) AS n_chars,
        |    len(t) - len(replace(t, chr(65533), '')) AS n_replacement,
        |    len(t) - len(regexp_replace(t,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS n_control,
        |    len(t) - len(regexp_replace(t, '[^\x00-\x7F]', '', 'g'))
        |      AS n_non_ascii
        |  FROM m)
        |SELECT doc_id, CAST(n_chars AS INTEGER) AS n_chars,
        |  CAST(n_replacement AS INTEGER) AS n_replacement,
        |  CAST(n_control AS INTEGER) AS n_control,
        |  CAST(n_non_ascii AS INTEGER) AS n_non_ascii,
        |  CASE WHEN n_chars > 0
        |       THEN CAST(n_non_ascii AS DOUBLE) / CAST(n_chars AS DOUBLE)
        |       ELSE CAST(0 AS DOUBLE) END AS non_ascii_fraction,
        |  CAST(n_replacement > 0 OR n_control > 0 AS INTEGER) AS damaged
        |FROM c ORDER BY doc_id""".stripMargin,

    // q158: exact-integer degree report over the same edge synthesis
    "q158_degree_stats" ->
      """WITH e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT 'd' || CAST(doc_id % 10 AS VARCHAR) AS src,
        |           'd' || CAST((doc_id % 10 + 1) % 10 AS VARCHAR) AS dst
        |    FROM documents
        |    UNION ALL
        |    SELECT 'd' || CAST(doc_id % 10 AS VARCHAR),
        |           'd' || CAST((doc_id % 10 + 3) % 10 AS VARCHAR)
        |    FROM documents WHERE doc_id % 10 IN (0, 2, 4))),
        |o AS (SELECT src AS node, count(*) AS out_degree FROM e
        |      GROUP BY src),
        |i AS (SELECT dst AS node, count(*) AS in_degree FROM e
        |      GROUP BY dst)
        |SELECT coalesce(o.node, i.node) AS node,
        |       coalesce(out_degree, 0) AS out_degree,
        |       coalesce(in_degree, 0) AS in_degree
        |FROM o FULL OUTER JOIN i ON o.node = i.node
        |ORDER BY node""".stripMargin,

    // q159: same tokenization and vocab literal (built from the same
    // EnStopwords constant); fraction is an exact quotient
    "q159_oov_rate" ->
      s"""WITH g AS (
         |  SELECT doc_id,
         |    list_filter(string_split(lower(coalesce(text, '')), ' '),
         |                t -> len(t) > 0) AS tk
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, len(tk) AS n_tokens,
         |    len(list_filter(tk, t -> NOT list_contains(
         |      [${TextOps.EnStopwords.map(w => s"'$w'").mkString(", ")}],
         |      t))) AS n_oov
         |  FROM g)
         |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
         |  CAST(n_oov AS INTEGER) AS n_oov,
         |  CASE WHEN n_tokens > 0
         |       THEN CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |       ELSE CAST(0 AS DOUBLE) END AS oov_fraction
         |FROM c ORDER BY doc_id""".stripMargin,

    // q160: q54's split + shingle CTEs (md5 bucket, whole-text fallback
    // under 8 tokens), counting hits per test doc instead of dropping
    "q160_contamination_report" ->
      """WITH split AS (
        |  SELECT *, CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
        |                 WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'val'
        |                 ELSE 'test' END AS split
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, split,
        |         CASE WHEN len(tk) >= 8 THEN
        |           list_distinct([array_to_string(tk[i:i+7], ' ')
        |                          FOR i IN generate_series(1, len(tk) - 7)])
        |         ELSE [array_to_string(tk, ' ')] END AS sh
        |  FROM (SELECT doc_id, split, string_split(lower(text), ' ') AS tk
        |        FROM split WHERE text IS NOT NULL)),
        |trainsh AS (
        |  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE split = 'train'),
        |ev AS (
        |  SELECT doc_id, unnest(sh) AS g FROM sh WHERE split = 'test'),
        |hit AS (
        |  SELECT doc_id, count(*) AS n_hit FROM ev
        |  WHERE g IN (SELECT g FROM trainsh) GROUP BY doc_id),
        |tot AS (
        |  SELECT doc_id, count(*) AS n_shingles FROM ev GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_shingles,
        |       coalesce(hit.n_hit, 0) AS n_hit,
        |       CAST(coalesce(hit.n_hit, 0) AS DOUBLE)
        |         / CAST(tot.n_shingles AS DOUBLE) AS hit_fraction
        |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
        |ORDER BY tot.doc_id""".stripMargin,

    // q161: identical [.!?]+ split, trim, whitespace-drop; the mean is
    // an exact-integer quotient
    "q161_sentence_stats" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_filter([trim(x) FOR x IN
        |                 string_split_regex(coalesce(text, ''), '[.!?]+')],
        |                x -> len(x) > 0) AS segs
        |  FROM documents)
        |SELECT doc_id, CAST(len(segs) AS INTEGER) AS n_sentences,
        |  CASE WHEN len(segs) > 0
        |       THEN CAST(list_sum([len(x) FOR x IN segs]) AS DOUBLE)
        |            / CAST(len(segs) AS DOUBLE)
        |       ELSE CAST(0 AS DOUBLE) END AS mean_sentence_chars
        |FROM s ORDER BY doc_id""".stripMargin,

    // q162: sqrt is IEEE correctly-rounded in both engines; max is
    // order-independent; the final division exact — no rounding needed
    "q162_temperature_mix" ->
      """WITH c AS (
        |  SELECT source,
        |    CAST(sum(len(list_filter(string_split(lower(text), ' '),
        |                             t -> len(t) > 0))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents
        |  WHERE text IS NOT NULL AND source IS NOT NULL
        |  GROUP BY source),
        |w AS (SELECT source, n_tokens,
        |             sqrt(CAST(n_tokens AS DOUBLE)) AS weight FROM c),
        |m AS (SELECT max(weight) AS max_weight FROM w)
        |SELECT source, n_tokens, weight, weight / max_weight AS rel_weight
        |FROM w CROSS JOIN m ORDER BY source""".stripMargin,

    // q163: parallel slice-unnest zips the bigram pairs; (n DESC, w2) is
    // a total order per context so the top-3 boundary cannot flip; the
    // conditional is one exact-integer division
    "q163_bigram_lm" ->
      """WITH tkl AS (
        |  SELECT list_filter(string_split(lower(text), ' '),
        |         t -> len(t) > 0) AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |p0 AS (
        |  SELECT unnest(tk[1:len(tk)-1]) AS w1,
        |         unnest(tk[2:len(tk)]) AS w2
        |  FROM tkl WHERE len(tk) >= 2),
        |p AS (SELECT w1, w2, count(*) AS n FROM p0 GROUP BY w1, w2),
        |ctx AS (SELECT w1, CAST(sum(n) AS BIGINT) AS context_n
        |        FROM p GROUP BY w1),
        |r AS (SELECT w1, w2, n, row_number() OVER
        |        (PARTITION BY w1 ORDER BY n DESC, w2) AS rnk FROM p)
        |SELECT r.w1, r.w2, r.n, ctx.context_n,
        |       CAST(r.n AS DOUBLE) / CAST(ctx.context_n AS DOUBLE)
        |         AS prob,
        |       CAST(rnk AS INTEGER) AS rank
        |FROM r JOIN ctx USING (w1) WHERE rnk <= 3
        |ORDER BY w1, rank""".stripMargin,

    // q164: identical injected typography (chr codes) and identical
    // fold chain + whitespace collapse
    "q164_normalize_text" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    chr(8220) || text || chr(8221) || ' ' || chr(8212)
        |      || ' end' || chr(160) || 'here  ok' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(replace(
        |      coalesce(t, ''),
        |      chr(8216), ''''), chr(8217), ''''),
        |      chr(8220), '"'), chr(8221), '"'),
        |      chr(8211), '-'), chr(8212), '-'),
        |      chr(160), ' '),
        |    '[ \t\n\r]+', ' ', 'g')) AS norm
        |FROM f ORDER BY doc_id""".stripMargin,

    // q165: both (link, anchor) rows re-derived from the markup
    // synthesis formulas, independent of the regex
    "q165_anchor_text" ->
      """WITH a1 AS (
        |  SELECT doc_id, 1 AS pair_no,
        |    'https://www.' || source || '.example.com/d'
        |      || CAST(doc_id AS VARCHAR) AS link,
        |    'Doc ' || CAST(doc_id AS VARCHAR) AS anchor
        |  FROM documents),
        |a2 AS (
        |  SELECT doc_id, 2 AS pair_no,
        |    '/rel/p' || CAST(doc_id % 7 AS VARCHAR) AS link,
        |    'rel link' AS anchor
        |  FROM documents)
        |SELECT * FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
        |ORDER BY doc_id, pair_no""".stripMargin,

    // q166: newest-crawl-wins keeper replayed as a (crawl DESC, id DESC)
    // window; copy count and winning order are exact integers
    "q166_dedup_latest" ->
      """WITH d AS (
        |  SELECT doc_id, 'c' || CAST(doc_id % 137 AS VARCHAR) AS c,
        |         doc_id % 5 AS crawl
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, c, crawl,
        |    row_number() OVER (PARTITION BY c
        |                       ORDER BY crawl DESC, doc_id DESC) AS rn,
        |    CAST(count(*) OVER (PARTITION BY c) AS BIGINT) AS n_copies,
        |    max(crawl) OVER (PARTITION BY c) AS keep_order
        |  FROM d)
        |SELECT doc_id AS keep_id, n_copies, keep_order
        |FROM r WHERE rn = 1 ORDER BY keep_id""".stripMargin,

    // q167: the survivor set re-derived straight from the rule table's
    // semantics (host match + path prefix), independent of the join
    "q167_robots_filter" ->
      """WITH u AS (
        |  SELECT doc_id, source,
        |    'https://www.' || source || '.example.com/p'
        |      || CAST(doc_id % 3 AS VARCHAR) || '/x' AS url
        |  FROM documents)
        |SELECT doc_id, source, url FROM u
        |WHERE NOT (source IN ('src0','src1','src2','src3','src4')
        |           AND doc_id % 3 = 0)
        |  AND NOT (source = 'src0' AND doc_id % 3 = 1)
        |ORDER BY doc_id""".stripMargin,

    // q168: the identical line synthesis + C4 keep predicate replayed
    // with DuckDB list lambdas; doc drops re-derived from the brace rule
    "q168_c4_rules" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text || chr(10) || 'short line' || chr(10)
        |      || 'This synthesized line is long enough to keep.' || chr(10)
        |      || CASE WHEN doc_id % 7 = 0 THEN 'code = {'
        |              ELSE 'Another clean sentence ends here.' END AS t
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, string_split(t, chr(10)) AS ls,
        |    list_filter(string_split(t, chr(10)),
        |      x -> len(list_filter(string_split(x, ' '),
        |                           w -> len(w) > 0)) >= 5
        |           AND regexp_matches(x, '[.!?"]$')) AS keep
        |  FROM d
        |  WHERE NOT contains(lower(t), 'lorem ipsum')
        |    AND NOT contains(t, '{'))
        |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        |       CAST(len(keep) AS BIGINT) AS kept_lines,
        |       array_to_string(keep, chr(10)) AS cleaned
        |FROM f WHERE len(keep) > 0 ORDER BY doc_id""".stripMargin,

    // q169: first-occurrence paragraph ownership replayed as a
    // row_number over md5(para) ordered by (doc_id, pos)
    "q169_paragraph_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 9 THEN 'Fully duplicated paragraph.'
        |         ELSE text END AS p0,
        |    'Shared footer number ' || CAST(doc_id % 5 AS VARCHAR) AS p1
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, pos, para FROM (
        |    SELECT doc_id, 0 AS pos, p0 AS para FROM d
        |    UNION ALL SELECT doc_id, 1 AS pos, p1 AS para FROM d)
        |  WHERE len(trim(para)) > 0),
        |r AS (
        |  SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY md5(para)
        |                       ORDER BY doc_id, pos) AS rn
        |  FROM p)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS kept_paras,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN para END,
        |    chr(10) || chr(10) ORDER BY pos), '') AS text_dedup
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q170: the q95 NLL model + a per-source ntile(3) with the same
    // deterministic (nll, doc_id) ordering
    "q170_ppl_buckets" ->
      """WITH tok AS (
        |  SELECT doc_id, t AS token FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE len(t) > 0),
        |vocab AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total FROM vocab),
        |probs AS (SELECT token, c / n_total AS p FROM vocab CROSS JOIN tot),
        |nll AS (
        |  SELECT doc_id, round(avg(-ln(p)), 6) AS nll
        |  FROM tok JOIN probs USING (token) GROUP BY doc_id),
        |b AS (
        |  SELECT d.doc_id, d.source, nll.nll,
        |    ntile(3) OVER (PARTITION BY d.source
        |                   ORDER BY nll.nll, d.doc_id) AS b
        |  FROM nll JOIN documents d USING (doc_id))
        |SELECT doc_id, source, nll,
        |  CASE WHEN b = 1 THEN 'head' WHEN b = 3 THEN 'tail'
        |       ELSE 'middle' END AS bucket
        |FROM b ORDER BY doc_id""".stripMargin,

    // q171: the KMV estimator replayed hex-for-hex — md5 order is the
    // numeric hash order; the division shape matches the Scala exactly
    "q171_kmv_distinct" ->
      """WITH tok AS (
        |  SELECT DISTINCT source, md5(t) AS h FROM (
        |    SELECT source, unnest(string_split(lower(text), ' ')) AS t
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE len(t) > 0),
        |r AS (SELECT source, h,
        |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |      FROM tok),
        |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_distinct_exact
        |      FROM tok GROUP BY 1),
        |k AS (SELECT source, max(h) AS kth_hash
        |      FROM r WHERE rn <= 16 GROUP BY 1)
        |SELECT k.source, n.n_distinct_exact, k.kth_hash,
        |  round(CASE WHEN n.n_distinct_exact < 16
        |        THEN CAST(n.n_distinct_exact AS DOUBLE)
        |        ELSE 15.0 / (CAST(('0x' || substr(k.kth_hash, 1, 12))::BIGINT
        |                          AS DOUBLE) / 281474976710656.0)
        |        END, 3) AS estimate
        |FROM k JOIN n USING (source) ORDER BY source""".stripMargin,

    // q172: identical md5-permutation window + integer boundary math
    "q172_stratified_split" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source,
        |  CASE WHEN rn * 100 <= n * 80 THEN 'train'
        |       WHEN rn * 100 <= n * 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r ORDER BY doc_id""".stripMargin,

    // q173: q31's proven subword regex + exact integer sums, quotients
    // taken once per group
    "q173_token_fertility" ->
      """WITH d AS (
        |  SELECT source,
        |    len(list_filter(string_split(coalesce(text, ''), ' '),
        |        w -> len(w) > 0)) AS w,
        |    len(regexp_extract_all(coalesce(text, ''),
        |        '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS sw,
        |    len(coalesce(text, '')) AS ch
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS n_words,
        |  CAST(sum(sw) AS BIGINT) AS n_subwords,
        |  round(CAST(sum(sw) AS DOUBLE) / sum(w), 6) AS fertility,
        |  round(CAST(sum(ch) AS DOUBLE) / sum(sw), 6) AS chars_per_subword
        |FROM d GROUP BY source ORDER BY source""".stripMargin,

    "q174_pq_adc_topk" -> pqAdcOracle,

    // q217: the trained weights straight out of the unrolled GD chain
    "q217_logistic_train" ->
      s"""WITH $logisticTrainCtes
         |SELECT bucket, w AS weight FROM w3 ORDER BY bucket""".stripMargin,

    // q218: train -> score -> sweep; logits are exact dyadic dot
    // products of the trained weights, counts exact integers, the two
    // quotients taken once per threshold (q175's shape)
    "q218_trained_sweep" ->
      s"""WITH $logisticTrainCtes,
         |dot AS (
         |  SELECT doc_id, sum(n * w) AS d
         |  FROM f JOIN w3 USING (bucket) GROUP BY doc_id),
         |sc AS (
         |  SELECT d.doc_id,
         |    coalesce(dot.d, 0.0)::DOUBLE AS s,
         |    CASE WHEN len(string_split(coalesce(d.text, ''), ' ')) >= 25
         |         THEN 1 ELSE 0 END AS y
         |  FROM documents d LEFT JOIN dot USING (doc_id)),
         |th AS (SELECT unnest([-0.5, -0.25, -0.125, 0.0, 0.125, 0.25,
         |         0.5]) AS threshold),
         |c AS (
         |  SELECT threshold,
         |    CAST(sum(CASE WHEN s >= threshold AND y = 1
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN s >= threshold AND y = 0
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN s < threshold AND y = 1
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN s < threshold AND y = 0
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |    CAST(sum(CASE WHEN s IS NULL OR y IS NULL
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_null
         |  FROM sc CROSS JOIN th GROUP BY threshold)
         |SELECT threshold, tp, fp, fn, tn, n_null,
         |  CASE WHEN tp + fp > 0
         |       THEN CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
         |  CASE WHEN tp + fn > 0
         |       THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall
         |FROM c ORDER BY threshold""".stripMargin,

    // q175: q148's exact-integer logit + the ≥25-token weak label;
    // counts are integers, the two quotients taken once per threshold
    "q175_threshold_sweep" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(t), 1, 8))::BIGINT % 64 AS bucket,
        |         count(*) AS n
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents WHERE text IS NOT NULL)
        |  WHERE len(t) > 0 GROUP BY 1, 2),
        |dot AS (
        |  SELECT doc_id, sum(n * ((bucket * 7) % 13 - 6)) AS d
        |  FROM f GROUP BY doc_id),
        |sc AS (
        |  SELECT d.doc_id,
        |    CAST(coalesce(dot.d, 0) AS DOUBLE) - 3.0::DOUBLE AS s,
        |    CASE WHEN len(string_split(coalesce(d.text, ''), ' ')) >= 25
        |         THEN 1 ELSE 0 END AS y
        |  FROM documents d LEFT JOIN dot USING (doc_id)),
        |th AS (SELECT unnest([-5.0, -3.0, -1.0, 0.0, 1.0, 3.0, 5.0])
        |         AS threshold),
        |c AS (
        |  SELECT threshold,
        |    CAST(sum(CASE WHEN s >= threshold AND y = 1
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN s >= threshold AND y = 0
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN s < threshold AND y = 1
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN s < threshold AND y = 0
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |    CAST(sum(CASE WHEN s IS NULL OR y IS NULL
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_null
        |  FROM sc CROSS JOIN th GROUP BY threshold)
        |SELECT threshold, tp, fp, fn, tn, n_null,
        |  CASE WHEN tp + fp > 0
        |       THEN CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
        |  CASE WHEN tp + fn > 0
        |       THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall
        |FROM c ORDER BY threshold""".stripMargin,

    // q176: q109's transition CTEs + q95's unigram probs, mixed with
    // the identical 0.5·q + 0.5·p expression shape
    "q176_interpolated_nll" ->
      """WITH l AS (
        |  SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '),
        |                     x -> len(x) > 0) AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (
        |  SELECT doc_id, unnest(toks) AS token FROM l),
        |vocab AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total FROM vocab),
        |uni AS (SELECT token AS w2, c / n_total AS p_uni
        |        FROM vocab CROSS JOIN tot),
        |bg AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bigram,
        |         toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT doc_id, toks,
        |               unnest(generate_series(1, len(toks) - 1)) AS i
        |        FROM l)),
        |cbg AS (SELECT bigram, count(*) AS c_bg FROM bg GROUP BY 1),
        |cw AS (SELECT w1, count(*) AS c_w1 FROM bg GROUP BY 1)
        |SELECT bg.doc_id, count(*) AS n_transitions,
        |  round(avg(-ln(
        |    0.5 * (CAST(cbg.c_bg AS DOUBLE) / cw.c_w1)
        |      + 0.5 * uni.p_uni)), 6) AS nll
        |FROM bg JOIN cbg USING (bigram) JOIN cw USING (w1)
        |        JOIN uni USING (w2)
        |GROUP BY bg.doc_id ORDER BY doc_id""".stripMargin,

    // q219: interpolated Kneser-Ney re-derived — (w1,w2)-keyed counts,
    // context totals + distinct continuations in one pass, backoff from
    // the TYPE table (N1+(·,w2)), |types| as a scalar CTE; the
    // probability is the same fixed-shape double expression
    // ((c−d)/c_w1 + d·n1f/c_w1 · n1b/|types|) so the lns replay
    "q219_kneser_ney_nll" ->
      s"""WITH $knNllCtes
         |SELECT doc_id, n_transitions, nll
         |FROM knll ORDER BY doc_id""".stripMargin,

    // q223: the CCNet head/middle/tail cut under the KN scorer — q219's
    // per-doc nll CTE + ntile over (nll, doc_id) per source (q79's
    // SQL-standard ntile parity)
    "q223_kn_ppl_buckets" ->
      s"""WITH $knNllCtes,
         |j AS (
         |  SELECT n.doc_id, d.source, n.nll FROM knll n
         |  JOIN documents d USING (doc_id)),
         |b AS (
         |  SELECT doc_id, source, nll,
         |         ntile(3) OVER (PARTITION BY source
         |                        ORDER BY nll, doc_id) AS b
         |  FROM j)
         |SELECT doc_id, source, nll,
         |       CASE b WHEN 1 THEN 'head' WHEN 3 THEN 'tail'
         |            ELSE 'middle' END AS bucket
         |FROM b ORDER BY doc_id""".stripMargin,

    // q222: the RFC 9309 decisions re-derived in closed form from the
    // synthesis — even sources score against the graftbot group
    // (/private/ blocks, /private/ok* out-lengths it, /cal*$ anchors),
    // odd sources against '*'-only Disallow /p*
    "q222_robots_gate" ->
      """SELECT doc_id,
        |  CASE WHEN CAST(regexp_extract(source, '(\d+)$', 1) AS INT)
        |            % 2 = 0 THEN
        |    CASE doc_id % 5 WHEN 1 THEN 0 WHEN 3 THEN 0 ELSE 1 END
        |  ELSE CASE WHEN doc_id % 5 IN (0, 1, 2) THEN 0 ELSE 1 END
        |  END AS allowed,
        |  CASE WHEN CAST(regexp_extract(source, '(\d+)$', 1) AS INT)
        |            % 2 = 0 THEN
        |    CASE doc_id % 5 WHEN 1 THEN '/private/'
        |         WHEN 2 THEN '/private/ok*'
        |         WHEN 3 THEN '/cal*$' ELSE NULL END
        |  ELSE CASE WHEN doc_id % 5 IN (0, 1, 2) THEN '/p*'
        |       ELSE NULL END
        |  END AS rule
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q221: temperature shares re-derived — sqrt of the lang share,
    // denominator as the SAME stratum-sorted sequential list fold (a
    // window/parallel sum could add in a different order), ppm floor,
    // q110's md5-bucket gate
    "q221_temperature_mix" ->
      """WITH c AS (
        |  SELECT lang AS stratum, count(*) AS n FROM documents
        |  WHERE lang IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS n_total FROM c),
        |w AS (SELECT stratum, n, sqrt(n / n_total) AS w
        |      FROM c CROSS JOIN tot),
        |den AS (
        |  SELECT list_reduce(list_transform(
        |           list_sort(list(struct_pack(s := stratum, w := w))),
        |           x -> x.w), (a, b) -> a + b) AS denom
        |  FROM w),
        |r AS (
        |  SELECT stratum,
        |         CAST(floor(least(1.0, (w / denom) * 300.0 / n) * 1000000)
        |           AS BIGINT) AS rate_ppm
        |  FROM w CROSS JOIN den)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r ON d.lang = r.stratum
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        |        % 1000000 < r.rate_ppm
        |ORDER BY d.doc_id""".stripMargin,

    // q224: the full DoReMi replay — (domain, token) type table, the KL
    // terms in the SAME cast/division/multiplication shape as the Spark
    // expression, token-sorted folds for per-domain KL and the
    // normalizer (the q221 list_reduce idiom), 2^-12 grid on the KL,
    // linear EG update, ppm floor
    "q224_domain_reweight" ->
      """WITH base AS (
        |  SELECT source AS domain, doc_id, text FROM documents
        |  WHERE text IS NOT NULL AND source IS NOT NULL),
        |nd0 AS (SELECT domain, count(*) AS n_docs FROM base GROUP BY 1),
        |tok AS (
        |  SELECT domain, t AS token FROM (
        |    SELECT domain, unnest(string_split(lower(text), ' ')) AS t
        |    FROM base)
        |  WHERE len(t) > 0),
        |cdw AS (SELECT domain, token, count(*) AS c_dw
        |        FROM tok GROUP BY 1, 2),
        |nd AS (SELECT domain, CAST(sum(c_dw) AS BIGINT) AS n_d
        |       FROM cdw GROUP BY 1),
        |cw AS (SELECT token, CAST(sum(c_dw) AS BIGINT) AS c_w
        |       FROM cdw GROUP BY 1),
        |nt AS (SELECT CAST(sum(c_dw) AS DOUBLE) AS n_tot FROM cdw),
        |term AS (
        |  SELECT domain, token,
        |    (CAST(c_dw AS DOUBLE) / CAST(n_d AS DOUBLE)) *
        |      ln((CAST(c_dw AS DOUBLE) * n_tot) /
        |         (CAST(c_w AS DOUBLE) * CAST(n_d AS DOUBLE))) AS term
        |  FROM cdw JOIN nd USING (domain) JOIN cw USING (token)
        |  CROSS JOIN nt),
        |kl AS (
        |  SELECT domain, list_reduce(list_transform(
        |           list_sort(list(struct_pack(t := token, v := term))),
        |           x -> x.v), (a, b) -> a + b) AS kl
        |  FROM term GROUP BY domain),
        |upd AS (
        |  SELECT kl.domain, n_d,
        |         floor(kl * 4096 + 0.5) / 4096 AS excess_loss,
        |         CAST(n_d AS DOUBLE) / n_tot AS share
        |  FROM kl JOIN nd USING (domain) CROSS JOIN nt),
        |raw AS (
        |  SELECT domain, n_d, excess_loss,
        |         share * (1.0 + 1.0 * excess_loss) AS raw
        |  FROM upd),
        |den AS (
        |  SELECT list_reduce(list_transform(
        |           list_sort(list(struct_pack(d := domain, r := raw))),
        |           x -> x.r), (a, b) -> a + b) AS denom
        |  FROM raw)
        |SELECT domain, n_docs, n_d AS n_tokens, excess_loss,
        |       CAST(floor((raw / denom) * 1000000) AS BIGINT) AS weight_ppm
        |FROM raw JOIN nd0 USING (domain) CROSS JOIN den
        |ORDER BY domain""".stripMargin,

    // q249: the MM fit unrolled — symmetric opponent counts from a
    // two-direction union, flat r0, two rounds of opponent-sorted
    // list_reduce folds with the same guarded one-division terms
    "q249_bradley_terry" ->
      """WITH m AS (
        |  SELECT source AS a,
        |         'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS b,
        |         CASE WHEN ((doc_id * 31) % 101) % 2 = 0 THEN source
        |              ELSE 'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR)
        |              END AS w
        |  FROM documents
        |  WHERE source IS NOT NULL
        |    AND source <> 'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR)),
        |nm AS (
        |  SELECT i, j, count(*) AS n FROM (
        |    SELECT a AS i, b AS j FROM m
        |    UNION ALL SELECT b AS i, a AS j FROM m)
        |  GROUP BY 1, 2),
        |base AS (
        |  SELECT model, coalesce(wins, CAST(0 AS BIGINT)) AS wins FROM
        |    (SELECT DISTINCT i AS model FROM nm) mo
        |    LEFT JOIN (SELECT w AS model, count(*) AS wins FROM m
        |               GROUP BY 1) wi USING (model)),
        |r0 AS (SELECT model, CAST(1.0 AS DOUBLE) AS rating FROM base),
        |d1 AS (
        |  SELECT nm.i AS model, list_reduce(list_transform(
        |      list_sort(list(struct_pack(j := nm.j, t :=
        |        CASE WHEN ra.rating + rb.rating > 0
        |             THEN CAST(nm.n AS DOUBLE) / (ra.rating + rb.rating)
        |             ELSE CAST(0.0 AS DOUBLE) END))),
        |      x -> x.t), (p, q) -> p + q) AS denom
        |  FROM nm JOIN r0 ra ON nm.i = ra.model
        |           JOIN r0 rb ON nm.j = rb.model
        |  GROUP BY nm.i),
        |r1 AS (
        |  SELECT base.model,
        |         CASE WHEN denom > 0
        |              THEN CAST(wins AS DOUBLE) / denom
        |              ELSE CAST(0.0 AS DOUBLE) END AS rating
        |  FROM base JOIN d1 USING (model)),
        |d2 AS (
        |  SELECT nm.i AS model, list_reduce(list_transform(
        |      list_sort(list(struct_pack(j := nm.j, t :=
        |        CASE WHEN ra.rating + rb.rating > 0
        |             THEN CAST(nm.n AS DOUBLE) / (ra.rating + rb.rating)
        |             ELSE CAST(0.0 AS DOUBLE) END))),
        |      x -> x.t), (p, q) -> p + q) AS denom
        |  FROM nm JOIN r1 ra ON nm.i = ra.model
        |           JOIN r1 rb ON nm.j = rb.model
        |  GROUP BY nm.i),
        |r2 AS (
        |  SELECT base.model,
        |         CASE WHEN denom > 0
        |              THEN CAST(wins AS DOUBLE) / denom
        |              ELSE CAST(0.0 AS DOUBLE) END AS rating
        |  FROM base JOIN d2 USING (model)),
        |nmat AS (SELECT i AS model, CAST(sum(n) AS BIGINT) AS n_matches
        |         FROM nm GROUP BY 1)
        |SELECT base.model, n_matches, wins, rating
        |FROM base JOIN nmat USING (model) JOIN r2 USING (model)
        |ORDER BY base.model""".stripMargin,

    // q250: kappa replayed — same label rules, (group, label) marginal
    // counts joined for S = Σ r_k·c_k in BIGINT, identical double
    // product/quotient shapes, NULL kappa on the pe = 1 degenerate
    "q250_cohen_kappa" ->
      """WITH l AS (
        |  SELECT source AS g, least(n_chars // 40, 2) AS a,
        |         least((n_chars + CASE WHEN doc_id % 7 = 0 THEN 15
        |                               ELSE 0 END) // 40, 2) AS b
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |st AS (
        |  SELECT g, count(*) AS n_items,
        |         CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_agree
        |  FROM l GROUP BY 1),
        |ra AS (SELECT g, a AS lab, count(*) AS rk FROM l GROUP BY 1, 2),
        |cb AS (SELECT g, b AS lab, count(*) AS ck FROM l GROUP BY 1, 2),
        |s AS (
        |  SELECT g, CAST(sum(rk * ck) AS BIGINT) AS s
        |  FROM ra JOIN cb USING (g, lab) GROUP BY 1)
        |SELECT st.g AS source, n_items, n_agree,
        |  CAST(n_agree AS DOUBLE) / CAST(n_items AS DOUBLE) AS po,
        |  coalesce(CAST(s AS DOUBLE), 0.0) /
        |    (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)) AS pe,
        |  CASE WHEN CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)
        |            - coalesce(CAST(s AS DOUBLE), 0.0) <> 0
        |       THEN (CAST(n_items AS DOUBLE) * CAST(n_agree AS DOUBLE)
        |             - coalesce(CAST(s AS DOUBLE), 0.0))
        |            / (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)
        |               - coalesce(CAST(s AS DOUBLE), 0.0))
        |       ELSE NULL END AS kappa
        |FROM st LEFT JOIN s USING (g)
        |ORDER BY source""".stripMargin,

    // q251: MBR replayed — (prompt, sid, token) multiset counts, the
    // sid<>sid pairwise overlap keyed on (prompt, token), one-division
    // F1s folded in opponent order, rank window for the consensus flag
    "q251_mbr_select" ->
      """WITH s AS (
        |  SELECT doc_id // 5 AS p, doc_id AS sid, text FROM documents
        |  WHERE text IS NOT NULL),
        |tok AS (
        |  SELECT p, sid, t AS token, count(*) AS c FROM (
        |    SELECT p, sid, unnest(string_split(lower(text), ' ')) AS t
        |    FROM s)
        |  WHERE len(t) > 0 GROUP BY 1, 2, 3),
        |lens AS (SELECT p, sid, CAST(sum(c) AS BIGINT) AS l
        |         FROM tok GROUP BY 1, 2),
        |ov AS (
        |  SELECT a.p, a.sid AS sa, b.sid AS sb,
        |         CAST(sum(least(a.c, b.c)) AS BIGINT) AS o
        |  FROM tok a JOIN tok b
        |    ON a.p = b.p AND a.token = b.token AND a.sid <> b.sid
        |  GROUP BY 1, 2, 3),
        |f AS (
        |  SELECT ov.p, sa, sb,
        |         CAST(2 * o AS DOUBLE) / CAST(la.l + lb.l AS DOUBLE) AS f1
        |  FROM ov JOIN lens la ON ov.p = la.p AND ov.sa = la.sid
        |          JOIN lens lb ON ov.p = lb.p AND ov.sb = lb.sid),
        |u AS (
        |  SELECT p, sa AS sid, list_reduce(list_transform(
        |      list_sort(list(struct_pack(j := sb, v := f1))),
        |      x -> x.v), (a, b) -> a + b) AS util
        |  FROM f GROUP BY 1, 2),
        |allc AS (
        |  SELECT s.p, s.sid, coalesce(l, CAST(0 AS BIGINT)) AS n_tokens,
        |         coalesce(util, CAST(0.0 AS DOUBLE)) AS mbr_utility
        |  FROM s LEFT JOIN lens ON s.p = lens.p AND s.sid = lens.sid
        |         LEFT JOIN u ON s.p = u.p AND s.sid = u.sid)
        |SELECT p AS prompt_id, sid AS sample_id, n_tokens, mbr_utility,
        |  CAST(CASE WHEN row_number() OVER (PARTITION BY p
        |         ORDER BY mbr_utility DESC, sid ASC) = 1
        |       THEN 1 ELSE 0 END AS INTEGER) AS selected
        |FROM allc ORDER BY prompt_id, sample_id""".stripMargin,

    // q252: prefix groups replayed — md5 of the space-joined first-8
    // filtered tokens, grouped counts, (n−1)·prefix savings in BIGINT
    "q252_prefix_cache" ->
      """WITH p AS (
        |  SELECT CASE WHEN doc_id % 3 = 0 THEN text
        |         ELSE 'you are a helpful assistant for ' || source ||
        |              ' answer briefly and cite sources then ' || text
        |         END AS text
        |  FROM documents WHERE text IS NOT NULL),
        |tk AS (
        |  SELECT md5(array_to_string(list_slice(list_filter(
        |           string_split(lower(text), ' '), t -> len(t) > 0),
        |           1, 8), ' ')) AS prefix_digest,
        |         CAST(len(list_filter(string_split(lower(text), ' '),
        |           t -> len(t) > 0)) AS BIGINT) AS nt
        |  FROM p WHERE text IS NOT NULL)
        |SELECT prefix_digest, count(*) AS n_prompts,
        |  CAST(min(least(nt, 8)) AS BIGINT) AS prefix_tokens,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  CAST((count(*) - 1) * min(least(nt, 8)) AS BIGINT)
        |    AS saved_tokens
        |FROM tk GROUP BY 1 ORDER BY prefix_digest""".stripMargin,

    // q253: the minimax isotonic fit replayed — bin aggregation, prefix
    // windows, (i,j) segment means from prefix differences, min-then-max
    // over the (k,i,j) triple join, identical division shapes
    "q253_isotonic_fit" ->
      """WITH sc AS (
        |  SELECT CAST((doc_id * 37) % 100 AS DOUBLE) / 100.0 AS prob,
        |         CASE WHEN (doc_id * 53) % 100 < (doc_id * 37) % 100
        |              THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |b AS (
        |  SELECT least(CAST(floor(prob * 20) AS BIGINT), 19) AS bin,
        |         count(*) AS n, CAST(sum(label) AS BIGINT) AS pos
        |  FROM sc GROUP BY 1),
        |pre AS (
        |  SELECT bin, n, pos,
        |    CAST(sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
        |    CAST(sum(pos) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cp
        |  FROM b),
        |segs AS (
        |  SELECT a.bin AS i, c.bin AS j,
        |    CAST(c.cp - a.cp + a.pos AS DOUBLE) /
        |      CAST(c.cw - a.cw + a.n AS DOUBLE) AS pavg
        |  FROM pre a JOIN pre c ON a.bin <= c.bin),
        |fit AS (
        |  SELECT k, max(minp) AS calibrated FROM (
        |    SELECT p2.bin AS k, s.i, min(s.pavg) AS minp
        |    FROM pre p2 JOIN segs s ON s.i <= p2.bin AND p2.bin <= s.j
        |    GROUP BY 1, 2) mm
        |  GROUP BY 1)
        |SELECT b.bin, n, pos,
        |  CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS raw, calibrated
        |FROM b JOIN fit ON b.bin = fit.k
        |ORDER BY bin""".stripMargin,

    // q254: LOO attribution replayed — (source, token) type table,
    // eval token counts, the |sources|×|eval types| grid with per-source
    // denominators, 2^-20-grid lns, exact dyadic sums
    "q254_loo_attribution" ->
      """WITH tr AS (
        |  SELECT source, text FROM documents
        |  WHERE doc_id % 11 <> 0 AND text IS NOT NULL
        |    AND source IS NOT NULL),
        |ev AS (
        |  SELECT text FROM documents
        |  WHERE doc_id % 11 = 0 AND text IS NOT NULL),
        |st AS (
        |  SELECT g, t, count(*) AS c_st FROM (
        |    SELECT source AS g, unnest(string_split(lower(text), ' ')) AS t
        |    FROM tr) z
        |  WHERE len(t) > 0 GROUP BY 1, 2),
        |ct AS (SELECT t, CAST(sum(c_st) AS BIGINT) AS c_t
        |       FROM st GROUP BY 1),
        |ns AS (SELECT g, CAST(sum(c_st) AS BIGINT) AS n_s
        |       FROM st GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_tot,
        |               count(*) AS v FROM ct),
        |etok AS (
        |  SELECT t, count(*) AS e_cnt FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS t FROM ev) z
        |  WHERE len(t) > 0 GROUP BY 1),
        |base AS (
        |  SELECT etok.t, e_cnt, coalesce(c_t, CAST(0 AS BIGINT)) AS c_t
        |  FROM etok LEFT JOIN ct ON etok.t = ct.t),
        |bn AS (
        |  SELECT sum(e_cnt * -(floor(ln(CAST(c_t + 1 AS DOUBLE) /
        |      CAST(n_tot + v AS DOUBLE)) * 1048576.0 + 0.5) / 1048576.0))
        |    AS base_nll
        |  FROM base CROSS JOIN tot),
        |loo AS (
        |  SELECT g, n_s,
        |    sum(e_cnt * -(floor(ln(CAST(c_t - c_adj + 1 AS DOUBLE) /
        |      CAST(n_tot - n_s + v AS DOUBLE)) * 1048576.0 + 0.5)
        |      / 1048576.0)) AS loo_nll
        |  FROM (
        |    SELECT base.t, base.e_cnt, base.c_t, ns.g, ns.n_s,
        |           coalesce(st.c_st, CAST(0 AS BIGINT)) AS c_adj
        |    FROM base CROSS JOIN ns
        |    LEFT JOIN st ON st.g = ns.g AND st.t = base.t) q
        |  CROSS JOIN tot GROUP BY 1, 2)
        |SELECT g AS source, n_s, base_nll, loo_nll,
        |       loo_nll - base_nll AS delta
        |FROM loo CROSS JOIN bn ORDER BY source""".stripMargin,

    // q257: confident learning replayed — grid snap, class-conditional
    // mean thresholds, CASE reassignment, 4-row joint counts
    "q257_confident_learning" ->
      """WITH d AS (
        |  SELECT floor(CAST((doc_id * 37) % 100 AS DOUBLE) / 100.0
        |           * 4096 + 0.5) / 4096 AS p,
        |         CASE WHEN doc_id % 17 = 0 THEN 1 - l ELSE l END AS y
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN (doc_id * 53) % 100 < (doc_id * 37) % 100
        |           THEN 1 ELSE 0 END AS l
        |    FROM documents) z),
        |th AS (
        |  SELECT sum(CASE WHEN y = 1 THEN p END)
        |           / sum(CASE WHEN y = 1 THEN 1 END) AS t1,
        |         sum(CASE WHEN y = 0 THEN 1 - p END)
        |           / sum(CASE WHEN y = 0 THEN 1 END) AS t0
        |  FROM d),
        |m AS (
        |  SELECT y AS noisy_label,
        |    CASE WHEN y = 0 AND p >= t1 THEN 1
        |         WHEN y = 1 AND (1 - p) >= t0 THEN 0
        |         ELSE y END AS est_true, t0, t1
        |  FROM d CROSS JOIN th)
        |SELECT noisy_label, est_true, t0, t1, count(*) AS n,
        |  CAST(CASE WHEN noisy_label <> est_true THEN 1 ELSE 0 END
        |    AS INTEGER) AS flagged
        |FROM m GROUP BY 1, 2, 3, 4
        |ORDER BY noisy_label, est_true""".stripMargin,

    // q258: Fleiss replayed — generate_series panel, partial-panel
    // drop, Σn², Σc², single-division P̄/P̄e, guarded kappa
    "q258_fleiss_kappa" ->
      """WITH r AS (
        |  SELECT doc_id, g.r AS rater,
        |    least((n_chars + CASE WHEN (doc_id + g.r) % 5 = 0 THEN 25
        |                          ELSE 0 END) // 40, 2) AS lab
        |  FROM documents,
        |       (SELECT unnest(generate_series(0, 2)) AS r) g
        |  WHERE n_chars IS NOT NULL
        |    AND NOT (doc_id % 31 = 0 AND g.r = 2)),
        |pi AS (SELECT doc_id, count(*) AS mi FROM r GROUP BY 1),
        |kept AS (SELECT r.* FROM r JOIN pi USING (doc_id) WHERE mi = 3),
        |nij AS (SELECT doc_id, lab, count(*) AS n FROM kept GROUP BY 1, 2),
        |an AS (
        |  SELECT CAST(sum(a) AS BIGINT) AS a_num, count(*) AS n_items
        |  FROM (SELECT doc_id, CAST(sum(n * n) AS BIGINT) - 3 AS a
        |        FROM nij GROUP BY 1) z),
        |s2 AS (
        |  SELECT CAST(sum(c * c) AS BIGINT) AS s2
        |  FROM (SELECT lab, CAST(sum(n) AS BIGINT) AS c
        |        FROM nij GROUP BY 1) z),
        |dr AS (SELECT count(*) AS n_dropped FROM pi WHERE mi <> 3),
        |core AS (
        |  SELECT n_items, n_dropped,
        |    CAST(a_num AS DOUBLE) / CAST(n_items * 3 * 2 AS DOUBLE)
        |      AS p_bar,
        |    CAST(s2 AS DOUBLE) / (CAST(n_items * 3 AS DOUBLE)
        |      * CAST(n_items * 3 AS DOUBLE)) AS p_e
        |  FROM an CROSS JOIN s2 CROSS JOIN dr)
        |SELECT n_items, n_dropped, p_bar, p_e,
        |  CASE WHEN 1.0 - p_e <> 0 THEN (p_bar - p_e) / (1.0 - p_e)
        |       END AS kappa
        |FROM core""".stripMargin,

    // q259: the EM round replayed — train bigram/context/unigram type
    // tables, held-out bigram counts, grid-snapped responsibilities,
    // h-weighted exact sums, one final division
    "q259_deleted_interp" ->
      """WITH tr AS (
        |  SELECT text FROM documents
        |  WHERE doc_id % 11 <> 0 AND text IS NOT NULL),
        |ho AS (
        |  SELECT text FROM documents
        |  WHERE doc_id % 11 = 0 AND text IS NOT NULL),
        |trl AS (
        |  SELECT list_filter(string_split(lower(text), ' '),
        |           x -> len(x) > 0) AS toks
        |  FROM tr),
        |tb AS (
        |  SELECT toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1))
        |          AS i FROM trl) z),
        |cbg AS (SELECT w1, w2, count(*) AS c_bg FROM tb GROUP BY 1, 2),
        |cw1 AS (SELECT w1, count(*) AS c_w1 FROM tb GROUP BY 1),
        |uni AS (
        |  SELECT t AS w2, count(*) AS c_u FROM (
        |    SELECT unnest(list_filter(string_split(lower(text), ' '),
        |      x -> len(x) > 0)) AS t FROM tr) z
        |  GROUP BY 1),
        |ntot AS (SELECT CAST(sum(c_u) AS BIGINT) AS n_tot FROM uni),
        |hol AS (
        |  SELECT list_filter(string_split(lower(text), ' '),
        |           x -> len(x) > 0) AS toks
        |  FROM ho),
        |hb AS (
        |  SELECT w1, w2, count(*) AS h FROM (
        |    SELECT toks[i] AS w1, toks[i + 1] AS w2
        |    FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1))
        |            AS i FROM hol) z) y
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT h,
        |    CASE WHEN c_bg IS NOT NULL
        |         THEN CAST(c_bg AS DOUBLE) / CAST(c_w1 AS DOUBLE)
        |         ELSE 0.0 END AS p2,
        |    CASE WHEN c_u IS NOT NULL
        |         THEN CAST(c_u AS DOUBLE) / CAST(n_tot AS DOUBLE)
        |         ELSE 0.0 END AS p1
        |  FROM hb LEFT JOIN cbg USING (w1, w2)
        |          LEFT JOIN cw1 USING (w1)
        |          LEFT JOIN uni USING (w2)
        |          CROSS JOIN ntot),
        |ee AS (
        |  SELECT h,
        |    CASE WHEN 0.5 * p2 + 0.5 * p1 > 0
        |         THEN floor(0.5 * p2 / (0.5 * p2 + 0.5 * p1)
        |                * 1048576.0 + 0.5) / 1048576.0
        |         END AS e
        |  FROM sc)
        |SELECT CAST(sum(h) AS BIGINT) AS n_tokens,
        |  coalesce(CAST(sum(CASE WHEN e IS NOT NULL THEN h END)
        |    AS BIGINT), 0) AS n_scored,
        |  CAST(0.5 AS DOUBLE) AS lambda0,
        |  sum(CASE WHEN e IS NOT NULL THEN h * e END)
        |    / sum(CASE WHEN e IS NOT NULL THEN h END) AS lambda_new
        |FROM ee""".stripMargin,

    // q262: chrF replayed — char n-gram multiset counts per (pair, n),
    // full-join overlap, level filter, n-ordered list_reduce means,
    // the F2 shape; 'g' flag on the whitespace strip
    "q262_chrf" ->
      """WITH d0 AS (
        |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |nxt AS (SELECT doc_id - 1 AS doc_id, text AS ntext FROM d0),
        |pr AS (
        |  SELECT d0.doc_id AS id,
        |    regexp_replace(lower(d0.text), '\s+', '', 'g') AS rs,
        |    regexp_replace(lower(CASE WHEN d0.doc_id % 7 = 0
        |      THEN d0.text ELSE nxt.ntext END), '\s+', '', 'g') AS hs
        |  FROM d0 JOIN nxt USING (doc_id)),
        |rg AS (
        |  SELECT id, n, substr(rs, i, n) AS g FROM (
        |    SELECT id, rs, n,
        |      unnest(generate_series(1, len(rs) - n + 1)) AS i
        |    FROM pr CROSS JOIN
        |      (SELECT unnest(generate_series(1, 6)) AS n) nn
        |    WHERE len(rs) >= n) z),
        |rc AS (SELECT id, n, g, count(*) AS rc FROM rg GROUP BY 1, 2, 3),
        |hg AS (
        |  SELECT id, n, substr(hs, i, n) AS g FROM (
        |    SELECT id, hs, n,
        |      unnest(generate_series(1, len(hs) - n + 1)) AS i
        |    FROM pr CROSS JOIN
        |      (SELECT unnest(generate_series(1, 6)) AS n) nn
        |    WHERE len(hs) >= n) z),
        |hc AS (SELECT id, n, g, count(*) AS hc FROM hg GROUP BY 1, 2, 3),
        |pn AS (
        |  SELECT id, n,
        |    CAST(sum(least(coalesce(rc, 0), coalesce(hc, 0))) AS BIGINT)
        |      AS o,
        |    CAST(sum(coalesce(rc, 0)) AS BIGINT) AS r,
        |    CAST(sum(coalesce(hc, 0)) AS BIGINT) AS h
        |  FROM rc FULL JOIN hc USING (id, n, g) GROUP BY 1, 2),
        |lv AS (
        |  SELECT id, n, CAST(o AS DOUBLE) / CAST(h AS DOUBLE) AS pn_,
        |         CAST(o AS DOUBLE) / CAST(r AS DOUBLE) AS rn_
        |  FROM pn WHERE r > 0 AND h > 0),
        |pp AS (
        |  SELECT id, count(*) AS n_levels,
        |    list_reduce(list_transform(list_sort(list(struct_pack(
        |      j := n, v := pn_))), x -> x.v), (a, b) -> a + b)
        |      / CAST(count(*) AS DOUBLE) AS chrp,
        |    list_reduce(list_transform(list_sort(list(struct_pack(
        |      j := n, v := rn_))), x -> x.v), (a, b) -> a + b)
        |      / CAST(count(*) AS DOUBLE) AS chrr
        |  FROM lv GROUP BY 1)
        |SELECT pr.id AS pair_id,
        |  coalesce(n_levels, CAST(0 AS BIGINT)) AS n_levels, chrp, chrr,
        |  CASE WHEN chrp IS NULL THEN NULL
        |       WHEN 4 * chrp + chrr > 0
        |       THEN (5 * chrp * chrr) / (4 * chrp + chrr)
        |       ELSE 0.0 END AS chrf
        |FROM pr LEFT JOIN pp ON pr.id = pp.id
        |ORDER BY pair_id""".stripMargin,

    // q263: the q243 assignment CTE per pool, smoothed histograms,
    // grid-snapped KL terms, cluster-ordered folds
    "q263_pool_divergence" ->
      """WITH seeds AS (
        |  SELECT vec_id AS cluster, CAST(embedding AS DOUBLE[]) AS c
        |  FROM embeddings WHERE vec_id < 3),
        |asg AS (
        |  SELECT vec_id, label, cluster FROM (
        |    SELECT e.vec_id, e.label, s.cluster,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.c)
        |          DESC, s.cluster ASC) AS arank
        |    FROM embeddings e CROSS JOIN seeds s) z
        |  WHERE arank = 1),
        |ha AS (SELECT cluster, count(*) AS n_a FROM asg
        |       WHERE label % 2 = 0 GROUP BY 1),
        |hb AS (SELECT cluster, count(*) AS n_b FROM asg
        |       WHERE label % 2 = 1 GROUP BY 1),
        |h AS (
        |  SELECT seeds.cluster,
        |    coalesce(n_a, CAST(0 AS BIGINT)) AS n_a,
        |    coalesce(n_b, CAST(0 AS BIGINT)) AS n_b
        |  FROM seeds LEFT JOIN ha USING (cluster)
        |             LEFT JOIN hb USING (cluster)),
        |tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
        |               CAST(sum(n_b) AS BIGINT) AS tb FROM h),
        |t AS (
        |  SELECT cluster, n_a, n_b,
        |    CAST(n_a + 1 AS DOUBLE) / CAST(ta + 3 AS DOUBLE) AS pa,
        |    CAST(n_b + 1 AS DOUBLE) / CAST(tb + 3 AS DOUBLE) AS pb
        |  FROM h CROSS JOIN tot),
        |tm AS (
        |  SELECT cluster, n_a, n_b, pa, pb,
        |    pa * (floor(ln(pa / pb) * 1048576.0 + 0.5) / 1048576.0)
        |      AS term_ab,
        |    pb * (floor(ln(pb / pa) * 1048576.0 + 0.5) / 1048576.0)
        |      AS term_ba
        |  FROM t),
        |kl AS (
        |  SELECT list_reduce(list_transform(list_sort(list(struct_pack(
        |      j := cluster, v := term_ab))), x -> x.v), (a, b) -> a + b)
        |      AS kl_ab,
        |    list_reduce(list_transform(list_sort(list(struct_pack(
        |      j := cluster, v := term_ba))), x -> x.v), (a, b) -> a + b)
        |      AS kl_ba
        |  FROM tm)
        |SELECT cluster, n_a, n_b, pa, pb, term_ab, term_ba, kl_ab,
        |  kl_ba, kl_ab + kl_ba AS jeffreys
        |FROM tm CROSS JOIN kl ORDER BY cluster""".stripMargin,

    // q264: the rule battery replayed — vacuous-on-NULL gates, word
    // floor, containment, ends_with on the rtrimmed response
    "q264_instruction_checks" ->
      """WITH d AS (
        |  SELECT doc_id AS pair_id, text AS response,
        |    5 + doc_id % 20 AS min_words,
        |    CASE WHEN len(text) >= 6
        |         THEN substr(lower(text), 3, 4) END AS keyword,
        |    'zzqq' AS forbidden,
        |    CASE WHEN doc_id % 3 = 0 THEN '.' END AS must_end_with
        |  FROM documents),
        |sc AS (
        |  SELECT pair_id, response, min_words, keyword, forbidden,
        |    must_end_with,
        |    CAST(len(list_filter(string_split(lower(coalesce(response,
        |      '')), ' '), x -> len(x) > 0)) AS BIGINT) AS n_words
        |  FROM d)
        |SELECT pair_id, n_words,
        |  CAST(CASE WHEN min_words IS NULL THEN 1
        |       WHEN response IS NOT NULL AND n_words >= min_words THEN 1
        |       ELSE 0 END AS INTEGER) AS words_ok,
        |  CAST(CASE WHEN keyword IS NULL THEN 1
        |       WHEN response IS NOT NULL
        |            AND contains(lower(response), lower(keyword)) THEN 1
        |       ELSE 0 END AS INTEGER) AS keyword_ok,
        |  CAST(CASE WHEN forbidden IS NULL THEN 1
        |       WHEN response IS NOT NULL
        |            AND NOT contains(lower(response), lower(forbidden))
        |       THEN 1 ELSE 0 END AS INTEGER) AS forbid_ok,
        |  CAST(CASE WHEN must_end_with IS NULL THEN 1
        |       WHEN response IS NOT NULL
        |            AND ends_with(rtrim(response), must_end_with) THEN 1
        |       ELSE 0 END AS INTEGER) AS ending_ok,
        |  CAST(CASE WHEN
        |    (CASE WHEN min_words IS NULL THEN 1
        |          WHEN response IS NOT NULL AND n_words >= min_words
        |          THEN 1 ELSE 0 END) = 1 AND
        |    (CASE WHEN keyword IS NULL THEN 1
        |          WHEN response IS NOT NULL
        |               AND contains(lower(response), lower(keyword))
        |          THEN 1 ELSE 0 END) = 1 AND
        |    (CASE WHEN forbidden IS NULL THEN 1
        |          WHEN response IS NOT NULL
        |               AND NOT contains(lower(response), lower(forbidden))
        |          THEN 1 ELSE 0 END) = 1 AND
        |    (CASE WHEN must_end_with IS NULL THEN 1
        |          WHEN response IS NOT NULL
        |               AND ends_with(rtrim(response), must_end_with)
        |          THEN 1 ELSE 0 END) = 1
        |    THEN 1 ELSE 0 END AS INTEGER) AS all_pass
        |FROM sc ORDER BY pair_id""".stripMargin,

    // q266: the vote replayed — normalized answers, (prompt, answer)
    // counts, (−votes, answer) argmin tie rule, exact agreement
    "q266_self_consistency" ->
      """WITH s AS (
        |  SELECT doc_id // 5 AS p,
        |    CASE WHEN doc_id % 13 = 0 THEN NULL
        |         ELSE regexp_replace(lower(trim(
        |           'Answer ' || CAST(((doc_id * 31) % 101) % 3
        |             AS VARCHAR))), '\s+', ' ', 'g') END AS a
        |  FROM documents),
        |v AS (SELECT p, a, count(*) AS v FROM s GROUP BY 1, 2),
        |n AS (SELECT p, CAST(sum(v) AS BIGINT) AS n_samples
        |      FROM v GROUP BY 1),
        |w AS (
        |  SELECT p, a AS majority_answer, v AS votes FROM (
        |    SELECT p, a, v, row_number() OVER (PARTITION BY p
        |      ORDER BY v DESC, a ASC) AS rk
        |    FROM v WHERE a IS NOT NULL) z
        |  WHERE rk = 1)
        |SELECT n.p AS prompt_id, n_samples, majority_answer,
        |  coalesce(votes, CAST(0 AS BIGINT)) AS votes,
        |  CASE WHEN n_samples > 0
        |       THEN CAST(coalesce(votes, CAST(0 AS BIGINT)) AS DOUBLE)
        |            / CAST(n_samples AS DOUBLE) END AS agreement,
        |  CAST(CASE WHEN coalesce(votes, CAST(0 AS BIGINT)) = n_samples
        |       THEN 1 ELSE 0 END AS INTEGER) AS unanimous
        |FROM n LEFT JOIN w ON n.p = w.p
        |ORDER BY prompt_id""".stripMargin,

    // q267: extraction replayed — json_valid guard (DuckDB's extract
    // ERRORS on malformed input where Spark's returns NULL), same
    // residue synthesis, exact-quotient rates
    "q267_structured_output" ->
      """WITH r AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 4 = 0 THEN
        |           '{"answer": "a' || CAST(doc_id % 7 AS VARCHAR) ||
        |           '", "confidence": ' || CAST(doc_id % 100 AS VARCHAR)
        |           || '}'
        |         WHEN doc_id % 4 = 1 THEN '{"answer": "a"'
        |         WHEN doc_id % 4 = 2 THEN text
        |         ELSE '{"answer": 42}' END AS resp
        |  FROM documents),
        |e AS (
        |  SELECT source,
        |    CASE WHEN json_valid(resp)
        |         THEN json_extract_string(resp, '$.answer') END AS v
        |  FROM r)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_valid,
        |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct_values,
        |  CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS valid_rate
        |FROM e GROUP BY 1 ORDER BY source""".stripMargin,

    // q231: q205's clone prelude + q204's gate aggregation + the digest
    // dedup window restricted to gate survivors
    "q231_curate_chat" ->
      s"""WITH nxt AS (
         |  SELECT doc_id - 1 AS doc_id, text AS ntext FROM documents),
         |src AS (
         |  SELECT doc_id, text FROM (
         |    SELECT d.doc_id,
         |           CASE WHEN d.doc_id % 6 = 0 AND n.ntext IS NOT NULL
         |                THEN n.ntext ELSE d.text END AS text
         |    FROM documents d LEFT JOIN nxt n USING (doc_id))
         |  WHERE text IS NOT NULL),
         |${chatTurnsCtesFrom("src")},
         |l AS (
         |  SELECT *, lag(role) OVER (PARTITION BY doc_id ORDER BY k)
         |    AS prev
         |  FROM turns),
         |agg AS (
         |  SELECT doc_id,
         |    CAST(count(*) AS BIGINT) AS n_turns,
         |    CAST(CASE WHEN count(*) > 1
         |           AND bool_and(prev IS NULL OR role <> prev)
         |         THEN 1 ELSE 0 END AS INTEGER) AS alternates,
         |    CAST(CASE WHEN min(k) = 0 THEN 1 ELSE 0 END AS INTEGER)
         |      AS starts_with_user
         |  FROM l GROUP BY doc_id),
         |gated AS (
         |  SELECT doc_id, n_turns FROM agg
         |  WHERE n_turns >= 2 AND alternates = 1
         |    AND starts_with_user = 1),
         |r AS (
         |  SELECT doc_id,
         |         string_agg('<|' || role || '|>' || content, ''
         |                    ORDER BY k) AS rendered
         |  FROM turns JOIN gated USING (doc_id) GROUP BY doc_id),
         |dg AS (
         |  SELECT doc_id, rendered,
         |         md5(regexp_replace(lower(rendered), '\\s+', ' ', 'g'))
         |           AS digest
         |  FROM r)
         |SELECT dg.doc_id, dg.rendered, gated.n_turns
         |FROM dg JOIN gated USING (doc_id)
         |QUALIFY row_number() OVER (PARTITION BY digest
         |                           ORDER BY doc_id) = 1
         |ORDER BY doc_id""".stripMargin,

    // q233: the 4 rounds unrolled in CTEs (the q197/q217 loop-replay
    // pattern); unstable = still rising between rounds 3 and 4
    "q233_topo_levels" -> {
      def round(i: Int): String = {
        val (p, c) = (s"l${i - 1}", s"l$i")
        s"""$c AS (
           |  SELECT n.node, CAST(coalesce(u.up, 0) AS BIGINT) AS level
           |  FROM n LEFT JOIN (
           |    SELECT e.src AS node, max($p.level) + 1 AS up
           |    FROM e JOIN $p ON e.dst = $p.node GROUP BY e.src) u
           |  USING (node))""".stripMargin
      }
      s"""WITH d AS (SELECT doc_id FROM documents),
         |e0 AS (
         |  SELECT doc_id AS src, doc_id - doc_id % 7 AS dst
         |  FROM d WHERE doc_id % 7 <> 0
         |  UNION
         |  SELECT doc_id AS src, doc_id - doc_id % 7 + 1 AS dst
         |  FROM d WHERE doc_id % 7 >= 4
         |  UNION SELECT -1 AS src, -2 AS dst
         |  UNION SELECT -2 AS src, -1 AS dst),
         |e AS (SELECT DISTINCT src, dst FROM e0),
         |n AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
         |l0 AS (SELECT node, CAST(0 AS BIGINT) AS level FROM n),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |${round(4)}
         |SELECT l4.node AS node, l4.level AS level,
         |  CAST(CASE WHEN l4.level > l3.level THEN 1 ELSE 0 END
         |    AS INTEGER) AS unstable
         |FROM l4 JOIN l3 ON l4.node = l3.node
         |ORDER BY l4.node""".stripMargin
    },

    // q230: argmax/argmin via two opposed row_number windows
    // (score DESC, id ASC) / (score ASC, id DESC) — the same tie rules
    // as the max/min struct keys; unscored rows count only
    "q230_best_of_n" ->
      """WITH s AS (
        |  SELECT doc_id // 5 AS prompt_id, doc_id AS sample_id,
        |    text AS sample,
        |    CASE WHEN doc_id % 13 = 0 THEN NULL
        |         ELSE CAST((doc_id * 31) % 101 AS DOUBLE) END AS score
        |  FROM documents WHERE text IS NOT NULL),
        |n AS (SELECT prompt_id, count(*) AS n_samples FROM s GROUP BY 1),
        |sc AS (SELECT * FROM s WHERE score IS NOT NULL),
        |cnt AS (SELECT prompt_id, count(*) AS n_scored
        |        FROM sc GROUP BY 1),
        |hi AS (
        |  SELECT prompt_id, sample AS chosen, score AS hs FROM (
        |    SELECT *, row_number() OVER (PARTITION BY prompt_id
        |      ORDER BY score DESC, sample_id ASC) AS rk FROM sc)
        |  WHERE rk = 1),
        |lo AS (
        |  SELECT prompt_id, sample AS rejected, score AS ls FROM (
        |    SELECT *, row_number() OVER (PARTITION BY prompt_id
        |      ORDER BY score ASC, sample_id DESC) AS rk FROM sc)
        |  WHERE rk = 1)
        |SELECT prompt_id, n_samples, n_scored, chosen, rejected,
        |       hs - ls AS margin
        |FROM cnt JOIN n USING (prompt_id) JOIN hi USING (prompt_id)
        |     JOIN lo USING (prompt_id)
        |WHERE n_scored >= 2
        |ORDER BY prompt_id""".stripMargin,

    // q229: the q204 turns CTE + a window prefix sum over rendered turn
    // lengths (len(role)+4 for the <|…|> tag + len(content)); turn
    // index re-ranked over kept turns (empty contents are filtered)
    "q229_loss_mask_spans" ->
      s"""WITH $chatTurnsCtes,
         |r AS (
         |  SELECT doc_id, k, role, content,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY k) - 1
         |      AS INTEGER) AS turn,
         |    CAST(coalesce(sum(len(role) + 4 + len(content)) OVER (
         |      PARTITION BY doc_id ORDER BY k
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS before
         |  FROM turns)
         |SELECT doc_id, turn, role,
         |  before + len(role) + 4 AS start_char,
         |  before + len(role) + 4 + len(content) AS end_char,
         |  CAST(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END
         |    AS INTEGER) AS train
         |FROM r ORDER BY doc_id, turn""".stripMargin,

    // q228: synthesis + audit replayed — same flags, digest chains
    // (md5 of normalized sides, forward/reverse concat digests),
    // reversed table from non-degenerate pairs only, ownership window
    "q228_preference_audit" ->
      """WITH d0 AS (
        |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |n AS (SELECT doc_id + 1 AS doc_id, text AS ntext FROM d0),
        |p0 AS (
        |  SELECT d0.doc_id,
        |    CASE WHEN d0.doc_id % 15 = 0 THEN 1 ELSE 0 END AS degen,
        |    CASE WHEN d0.doc_id % 15 <> 0 AND d0.doc_id % 10 = 1
        |              AND ntext IS NOT NULL THEN 1 ELSE 0 END AS flip,
        |    text, ntext
        |  FROM d0 LEFT JOIN n USING (doc_id)),
        |p AS (
        |  SELECT doc_id AS pair_id,
        |    CASE WHEN flip = 1
        |         THEN 'p' || CAST((doc_id - 1) % 50 AS VARCHAR)
        |         ELSE 'p' || CAST(doc_id % 50 AS VARCHAR) END AS prompt,
        |    CASE WHEN flip = 1 THEN 'b: ' || ntext
        |         ELSE 'a: ' || text END AS chosen,
        |    CASE WHEN degen = 1 THEN 'a: ' || text
        |         WHEN flip = 1 THEN 'a: ' || ntext
        |         ELSE 'b: ' || text END AS rejected
        |  FROM p0),
        |a AS (
        |  SELECT pair_id,
        |    md5(regexp_replace(lower(coalesce(prompt, '')),
        |        '\s+', ' ', 'g')) AS pd,
        |    md5(regexp_replace(lower(coalesce(chosen, '')),
        |        '\s+', ' ', 'g')) AS cd,
        |    md5(regexp_replace(lower(coalesce(rejected, '')),
        |        '\s+', ' ', 'g')) AS rd
        |  FROM p),
        |b AS (
        |  SELECT pair_id, pd, cd, rd,
        |         md5(pd || cd || rd) AS fwd, md5(pd || rd || cd) AS rev,
        |         CASE WHEN cd = rd THEN 1 ELSE 0 END AS degenerate
        |  FROM a),
        |pc AS (SELECT pd, count(*) AS prompt_dups FROM b GROUP BY pd),
        |rc AS (SELECT rev AS fwd, count(*) AS n_rev FROM b
        |       WHERE degenerate = 0 GROUP BY rev),
        |k AS (SELECT b.*, row_number() OVER (PARTITION BY fwd
        |        ORDER BY pair_id) AS rn FROM b)
        |SELECT k.pair_id, k.degenerate,
        |  CASE WHEN coalesce(rc.n_rev, 0) > 0 THEN 1 ELSE 0 END
        |    AS contradicted,
        |  pc.prompt_dups,
        |  CASE WHEN rn = 1 AND degenerate = 0
        |            AND coalesce(rc.n_rev, 0) = 0
        |       THEN 1 ELSE 0 END AS keep
        |FROM k JOIN pc USING (pd) LEFT JOIN rc USING (fwd)
        |ORDER BY pair_id""".stripMargin,

    // q226: the md5 gate and the two md5 cuts restated, substr
    // arithmetic replayed position-for-position (both engines 1-based)
    "q226_fim_transform" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    CASE WHEN text IS NOT NULL AND
        |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fim'),
        |        1, 8))::BIGINT % 100 < 50 THEN 1 ELSE 0 END AS fim,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':f1'),
        |      1, 8))::BIGINT % (len(text) + 1) AS u1,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':f2'),
        |      1, 8))::BIGINT % (len(text) + 1) AS u2
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, text, fim,
        |         CAST(least(u1, u2) AS INTEGER) AS lo,
        |         CAST(greatest(u1, u2) AS INTEGER) AS hi
        |  FROM c)
        |SELECT doc_id, fim,
        |  CASE WHEN fim = 1 THEN
        |    '<|fim_prefix|>' || substr(text, 1, lo) ||
        |    '<|fim_suffix|>' || substr(text, hi + 1, len(text) - hi) ||
        |    '<|fim_middle|>' || substr(text, lo + 1, hi - lo)
        |  ELSE text END AS text_fim
        |FROM s ORDER BY doc_id""".stripMargin,

    // q234: q225's replay with the stream ordered (lang, doc_id)
    "q234_icp_blocks" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(':' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      ::BIGINT % 4 AS shard,
        |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
        |      + 1 AS seg_len
        |  FROM documents),
        |s AS (
        |  SELECT shard, doc_id, seg_len,
        |    CAST(coalesce(sum(seg_len) OVER (
        |      PARTITION BY shard ORDER BY lang, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS st
        |  FROM d),
        |seg AS (
        |  SELECT shard, doc_id, st, seg_len,
        |    unnest(generate_series(st // 512,
        |                           (st + seg_len - 1) // 512)) AS block_id
        |  FROM s)
        |SELECT shard, block_id,
        |  greatest(st, block_id * 512) - block_id * 512 AS block_pos,
        |  doc_id,
        |  greatest(st, block_id * 512) - st AS doc_tok_start,
        |  least(st + seg_len, (block_id + 1) * 512)
        |    - greatest(st, block_id * 512) AS seg_tokens
        |FROM seg ORDER BY shard, block_id, block_pos""".stripMargin,

    // q225: q202's md5 shard/order prelude + the stream cumsum (window
    // sum CAST to BIGINT per the HUGEINT rule) + generate_series over
    // the spanned block range; the segment arithmetic restated verbatim
    "q225_block_segments" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(':' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      ::BIGINT % 4 AS shard,
        |    ('0x' || substr(md5(':o:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      ::BIGINT AS ord,
        |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
        |      + 1 AS seg_len
        |  FROM documents),
        |s AS (
        |  SELECT shard, doc_id, seg_len,
        |    CAST(coalesce(sum(seg_len) OVER (
        |      PARTITION BY shard ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS st
        |  FROM d),
        |seg AS (
        |  SELECT shard, doc_id, st, seg_len,
        |    unnest(generate_series(st // 512,
        |                           (st + seg_len - 1) // 512)) AS block_id
        |  FROM s)
        |SELECT shard, block_id,
        |  greatest(st, block_id * 512) - block_id * 512 AS block_pos,
        |  doc_id,
        |  greatest(st, block_id * 512) - st AS doc_tok_start,
        |  least(st + seg_len, (block_id + 1) * 512)
        |    - greatest(st, block_id * 512) AS seg_tokens
        |FROM seg ORDER BY shard, block_id, block_pos""".stripMargin,

    // q177: host re-derived from the synthesis formula, the same
    // 8-hex-digit md5 bucket as q110/q148
    "q177_host_shard_plan" ->
      """WITH u AS (
        |  SELECT 'www.' || source || '.example.com' AS host
        |  FROM documents),
        |h AS (
        |  SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
        |    ('0x' || substr(md5(host), 1, 8))::BIGINT % 4 AS shard
        |  FROM u GROUP BY host)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_hosts,
        |  CAST(sum(n_urls) AS BIGINT) AS n_urls,
        |  CAST(max(n_urls) AS BIGINT) AS max_host_urls
        |FROM h GROUP BY shard ORDER BY shard""".stripMargin,

    "q178_embedding_audit" -> embAuditOracle,

    "q179_ivf_pq_topk" -> ivfPqAdcOracle,

    // q180: md5 digests + exact-integer distinct counts, unrounded
    // quotients taken once per group
    "q180_dedup_audit" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_exact,
        |  CAST(count(DISTINCT md5(regexp_replace(lower(text),
        |    '\s+', ' ', 'g'))) AS BIGINT) AS n_normalized,
        |  CASE WHEN count(*) >
        |            sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) THEN
        |    1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
        |      / (count(*) - sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END))
        |  END AS dup_rate_exact,
        |  CASE WHEN count(*) >
        |            sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) THEN
        |    1.0 - CAST(count(DISTINCT md5(regexp_replace(lower(text),
        |        '\s+', ' ', 'g'))) AS DOUBLE)
        |      / (count(*) - sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END))
        |  END AS dup_rate_normalized
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q182_lsh_curve" -> lshCurveOracle,

    // q185: synthesis replayed; frontier = candidates minus the crawled
    // set, exact-integer counts, total (n_refs DESC, url) order
    "q185_crawl_frontier" ->
      """WITH docs AS (SELECT doc_id, source FROM documents),
        |crawled AS (
        |  SELECT DISTINCT 'https://www.' || source || '.example.com/p'
        |    || CAST(doc_id % 7 AS VARCHAR) AS u FROM docs),
        |cand AS (
        |  SELECT 'https://www.' || source || '.example.com/p'
        |    || CAST((doc_id + 1) % 9 AS VARCHAR) AS u FROM docs
        |  UNION ALL
        |  SELECT 'https://www.' || source || '.example.com/p'
        |    || CAST(doc_id % 11 AS VARCHAR) AS u FROM docs),
        |f AS (
        |  SELECT u, CAST(count(*) AS BIGINT) AS n_refs FROM cand
        |  WHERE u NOT IN (SELECT u FROM crawled)
        |  GROUP BY u)
        |SELECT u AS url, n_refs FROM f
        |ORDER BY n_refs DESC, url LIMIT 20""".stripMargin,

    "q186_centroid_drift" -> centroidDriftOracle,

    // q187: per-key counts, 3-scalar summary, one bounded take; the
    // skew factor is one exact-integer-product division
    "q187_skew_report" ->
      """WITH c AS (
        |  SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |s AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        |         CAST(count(*) AS BIGINT) AS n_keys,
        |         CAST(max(n) AS BIGINT) AS max_n FROM c)
        |SELECT key, n, n_rows, n_keys,
        |  CAST(max_n * n_keys AS DOUBLE) / n_rows AS skew_factor
        |FROM c CROSS JOIN s ORDER BY n DESC, key LIMIT 5""".stripMargin,

    // q188: identical md5(epoch,id) permutation per epoch
    "q188_epoch_shuffle" ->
      """WITH e AS (
        |  SELECT d.doc_id, t.epoch FROM documents d,
        |    (SELECT unnest(generate_series(0, 2)) AS epoch) t),
        |r AS (
        |  SELECT epoch, doc_id,
        |    row_number() OVER (PARTITION BY epoch
        |      ORDER BY md5(CAST(epoch AS VARCHAR) || '_'
        |        || CAST(doc_id AS VARCHAR)), doc_id) AS rank
        |  FROM e)
        |SELECT CAST(epoch AS INTEGER) AS epoch,
        |  CAST(rank AS INTEGER) AS rank, doc_id
        |FROM r WHERE rank <= 10 ORDER BY epoch, rank""".stripMargin,

    // q190: the seed:":"-salted md5 bucket replayed; balance is one
    // exact-integer-product division
    "q190_shard_balance" ->
      """WITH s AS (
        |  SELECT ('0x' || substr(md5(':' || CAST(doc_id AS VARCHAR)),
        |    1, 8))::BIGINT % 8 AS shard,
        |    len(string_split(coalesce(text, ''), ' ')) AS tk
        |  FROM documents),
        |p AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(tk) AS BIGINT) AS n_tokens FROM s GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM p)
        |SELECT shard, n_docs, n_tokens,
        |  CAST(n_docs * 8 AS DOUBLE) / total AS balance
        |FROM p CROSS JOIN t ORDER BY shard""".stripMargin,

    // q191: delays re-derived from the synthesis formula (independent
    // of the robots parse), loads and makespans exact integers
    "q191_fetch_makespan" ->
      """WITH u AS (
        |  SELECT 'www.' || source || '.example.com' AS host
        |  FROM documents),
        |h AS (SELECT host, CAST(count(*) AS BIGINT) AS n_urls
        |      FROM u GROUP BY 1),
        |r AS (SELECT DISTINCT 'www.' || source || '.example.com' AS host,
        |        CAST(length(source) % 4 + 1 AS BIGINT) AS delay
        |      FROM documents),
        |j AS (SELECT h.host, h.n_urls, r.delay,
        |        ('0x' || substr(md5(h.host), 1, 8))::BIGINT % 4 AS shard,
        |        h.n_urls * r.delay AS fs
        |      FROM h JOIN r USING (host))
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_hosts,
        |  CAST(sum(n_urls) AS BIGINT) AS n_urls,
        |  CAST(max(fs) AS BIGINT) AS makespan_seconds,
        |  CAST(sum(fs) AS BIGINT) AS serial_seconds
        |FROM j GROUP BY shard ORDER BY shard""".stripMargin,

    // q192: q170's bucket CTEs + the token totals, grouped
    "q192_ccnet_report" ->
      """WITH tok AS (
        |  SELECT doc_id, t AS token FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE len(t) > 0),
        |vocab AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total FROM vocab),
        |probs AS (SELECT token, c / n_total AS p FROM vocab CROSS JOIN tot),
        |nll AS (
        |  SELECT doc_id, round(avg(-ln(p)), 6) AS nll
        |  FROM tok JOIN probs USING (token) GROUP BY doc_id),
        |b AS (
        |  SELECT d.doc_id, d.source,
        |    ntile(3) OVER (PARTITION BY d.source
        |                   ORDER BY nll.nll, d.doc_id) AS b
        |  FROM nll JOIN documents d USING (doc_id)),
        |sel AS (
        |  SELECT doc_id, source,
        |    CASE WHEN b = 1 THEN 'head' WHEN b = 3 THEN 'tail'
        |         ELSE 'middle' END AS bucket
        |  FROM b),
        |tk AS (SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tk
        |       FROM documents)
        |SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tk) AS BIGINT) AS n_tokens
        |FROM sel JOIN tk USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q193: both anchor rows re-derived from the synthesis — absolute
    // links all live under the registrable example.com, relative links
    // under the per-source domain
    "q193_anchor_domains" ->
      """WITH a AS (
        |  SELECT 'example.com' AS domain,
        |         'Doc ' || CAST(doc_id AS VARCHAR) AS anchor
        |  FROM documents
        |  UNION ALL
        |  SELECT source || '.example.com' AS domain, 'rel link' AS anchor
        |  FROM documents)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_anchors,
        |  CAST(count(DISTINCT anchor) AS BIGINT) AS n_distinct_anchors
        |FROM a GROUP BY domain ORDER BY domain""".stripMargin,

    // q194: identical injection + strip-length/list-filter signal
    // replays; the verdict CASE restates the documented thresholds
    "q194_code_detect" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 6 = 0 THEN
        |      'def f(x):' || chr(10) || '  return x + '
        |      || CAST(doc_id AS VARCHAR) || ';' || chr(10)
        |      || '  var y = {a: 1};' || chr(10) || '  const z = 2;'
        |    ELSE text END AS t
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, t, string_split(t, chr(10)) AS ls,
        |    len(t) - len(regexp_replace(t, '[{};]', '', 'g')) AS bs,
        |    len(list_filter(string_split(t, ' '),
        |      w -> w IN ('def','class','return','import','void',
        |                 'function','var','const','public','static',
        |                 '#include','lambda','=>')
        |        OR starts_with(w, 'if(') OR starts_with(w, 'for(')
        |        OR starts_with(w, 'while(')))
        |      AS kw
        |  FROM d),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(bs AS BIGINT) AS n_brace_semi,
        |    CAST(kw AS BIGINT) AS kw_hits,
        |    CASE WHEN len(t) > 0 THEN CAST(bs AS DOUBLE) / len(t)
        |         ELSE 0.0 END AS brace_semi_density,
        |    CASE WHEN len(ls) > 0 THEN
        |      CAST(len(list_filter(ls,
        |        l -> regexp_matches(l, '^(\t|  )'))) AS DOUBLE) / len(ls)
        |    ELSE 0.0 END AS indent_fraction
        |  FROM s)
        |SELECT doc_id, n_lines, n_brace_semi, kw_hits,
        |  brace_semi_density, indent_fraction,
        |  CAST(CASE WHEN brace_semi_density > 0.01
        |         OR (indent_fraction >= 0.3 AND kw_hits >= 2)
        |       THEN 1 ELSE 0 END AS BIGINT) AS is_code
        |FROM m ORDER BY doc_id""".stripMargin,

    // q195: both rows re-derived from the synthesis formulas,
    // independent of the regex extraction
    "q195_table_extract" ->
      """SELECT doc_id, CAST(0 AS INTEGER) AS row_no, 'id|name' AS cells
        |FROM documents
        |UNION ALL
        |SELECT doc_id, CAST(1 AS INTEGER),
        |  CAST(doc_id AS VARCHAR) || '|row' || CAST(doc_id % 5 AS VARCHAR)
        |FROM documents
        |ORDER BY doc_id, row_no""".stripMargin,

    // q189: the same one-pass group/diversity aggregation
    "q189_l_diversity" ->
      """WITH g AS (
        |  SELECT source, n_chars // 10 AS bin,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT doc_id % 7) AS BIGINT) AS d
        |  FROM documents GROUP BY 1, 2)
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN d < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS groups_below_l,
        |  CAST(coalesce(sum(CASE WHEN d < 3 THEN n END), 0) AS BIGINT)
        |    AS rows_below_l,
        |  round(CAST(coalesce(sum(CASE WHEN d < 3 THEN n END), 0)
        |    AS DOUBLE) / sum(n), 6) AS at_risk_fraction,
        |  CAST(min(d) AS BIGINT) AS min_diversity
        |FROM g""".stripMargin,

    // q183: identical injection formulas + the same three RE2-safe
    // patterns; counts are exact integers
    "q183_pii_report" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    text
        |      || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
        |           || CAST(doc_id AS VARCHAR) || '@example.com'
        |         ELSE '' END
        |      || CASE WHEN doc_id % 5 = 0 THEN ' call 555-1234'
        |         ELSE '' END
        |      || CASE WHEN doc_id % 11 = 0 THEN ' card 4111111111111111'
        |         ELSE '' END AS t
        |  FROM documents),
        |c AS (
        |  SELECT source,
        |    len(regexp_extract_all(t,
        |      '[A-Za-z0-9.+_-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS e,
        |    len(regexp_extract_all(t, '\d{3}-\d{4}')) AS p,
        |    len(regexp_extract_all(t, '\d{16}')) AS cd
        |  FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(e) AS BIGINT) AS n_email,
        |  CAST(sum(p) AS BIGINT) AS n_phone,
        |  CAST(sum(cd) AS BIGINT) AS n_card,
        |  CAST(sum(CASE WHEN e + p + cd > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_with_pii
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // q184: domain and depth re-derived from the synthesis formulas;
    // mean is one exact-integer quotient
    "q184_url_depth" ->
      """WITH u AS (
        |  SELECT source || '.com' AS domain,
        |    CAST(doc_id % 4 AS BIGINT) AS depth
        |  FROM documents)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(max(depth) AS BIGINT) AS max_depth,
        |  CAST(sum(depth) AS DOUBLE) / count(*) AS mean_depth
        |FROM u GROUP BY domain ORDER BY domain""".stripMargin,

    // q181: identical md5 mask rule, running sentinel counter, ordered
    // string_agg rebuilds
    "q181_span_corruption" ->
      """WITH l AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '),
        |                             x -> len(x) > 0) AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |tk AS (
        |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
        |  FROM (SELECT doc_id, toks,
        |               unnest(generate_series(1, len(toks))) AS i
        |        FROM l)),
        |m AS (
        |  SELECT doc_id, pos, tok,
        |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_'
        |        || CAST(pos AS VARCHAR)), 1, 8))::BIGINT % 5 = 0) AS masked
        |  FROM tk),
        |n AS (
        |  SELECT doc_id, pos, tok, masked,
        |    sum(CASE WHEN masked THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
        |  FROM m)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_masked,
        |  string_agg(CASE WHEN masked THEN
        |      '<extra_id_' || CAST(k - 1 AS VARCHAR) || '>'
        |    ELSE tok END, ' ' ORDER BY pos) AS input_text,
        |  coalesce(string_agg(CASE WHEN masked THEN
        |      '<extra_id_' || CAST(k - 1 AS VARCHAR) || '> ' || tok END,
        |    ' ' ORDER BY pos), '') AS target_text
        |FROM n GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q147: both snapshots re-derived from the same filters/revision
    // rule; md5 over the identical chr(1)-joined (text, source) pair
    "q147_snapshot_diff" ->
      """WITH prev AS (
        |  SELECT doc_id, md5(concat_ws(chr(1), text, source)) AS old_fp
        |  FROM documents WHERE doc_id % 10 <> 3),
        |cur AS (
        |  SELECT doc_id, md5(concat_ws(chr(1),
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END,
        |    source)) AS new_fp
        |  FROM documents WHERE doc_id % 10 <> 5)
        |SELECT coalesce(prev.doc_id, cur.doc_id) AS doc_id,
        |       old_fp, new_fp,
        |       CASE WHEN old_fp IS NULL THEN 'added'
        |            WHEN new_fp IS NULL THEN 'removed'
        |            WHEN old_fp <> new_fp THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM prev FULL JOIN cur ON prev.doc_id = cur.doc_id
        |ORDER BY doc_id""".stripMargin,

    // q148: q110's portable md5 bucketing + the integer weight formula;
    // the dot product is summed as exact integers and cast once
    "q148_quality_classifier" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(t), 1, 8))::BIGINT % 64 AS bucket,
        |         count(*) AS n
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents WHERE text IS NOT NULL)
        |  WHERE len(t) > 0 GROUP BY 1, 2),
        |dot AS (
        |  SELECT doc_id, sum(n * ((bucket * 7) % 13 - 6)) AS d
        |  FROM f GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(coalesce(dot.d, 0) AS DOUBLE) - 3.0::DOUBLE AS logit,
        |       CASE WHEN CAST(coalesce(dot.d, 0) AS DOUBLE)
        |                   - 3.0::DOUBLE > 0
        |            THEN 1 ELSE 0 END AS label
        |FROM documents d LEFT JOIN dot ON d.doc_id = dot.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // q149: token counts re-derived over the same non-empty-token split;
    // the fraction is one exact-integer division, emitted unrounded
    "q149_blocklist_gate" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |         t -> len(t) > 0)) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |         t -> t IN ('slow', 'big'))) AS BIGINT) AS n_flagged
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_flagged,
        |       CASE WHEN n_tokens > 0
        |            THEN CAST(n_flagged AS DOUBLE) / n_tokens
        |            ELSE 0.0::DOUBLE END AS flagged_fraction,
        |       CASE WHEN (CASE WHEN n_tokens > 0
        |                       THEN CAST(n_flagged AS DOUBLE) / n_tokens
        |                       ELSE 0.0::DOUBLE END) <= 0.05::DOUBLE
        |            THEN 1 ELSE 0 END AS kept
        |FROM f ORDER BY doc_id""".stripMargin,

    // q150: identical header synthesis (doc_id%5), identical regex
    // ladder over header||text, negative control over the raw text
    "q150_license_detect" -> {
      val headerCase = LicenseHeaders.init.zipWithIndex.map {
        case (h, i) =>
          s"      WHEN $i THEN '${h.replace("'", "''")}'"
      }.mkString("\n")
      s"""WITH h AS (
         |  SELECT doc_id,
         |    (CASE doc_id % 5
         |$headerCase
         |      ELSE '' END) || text AS full_text,
         |    text
         |  FROM documents)
         |SELECT doc_id,
         |  ${licenseCaseSql("lower(full_text)")} AS license,
         |  ${licenseCaseSql("lower(text)")} AS license_raw
         |FROM h ORDER BY doc_id""".stripMargin
    },

    // q138: the fixture's five records as literals; DuckDB recomputes the
    // md5 over the very payload strings the Spark side must produce after
    // Content-Length truncation + HTTP envelope stripping
    "q138_warc_ingest" ->
      s"""SELECT * FROM (VALUES
         |  ('<urn:uuid:rec-1>', 'warcinfo', '', CAST(22 AS BIGINT),
         |   'software: graftbot/1.0', md5('software: graftbot/1.0')),
         |  ('<urn:uuid:rec-2>', 'response', 'http://example.org/a',
         |   CAST(74 AS BIGINT), '<html><p>Alpha page</p></html>',
         |   md5('<html><p>Alpha page</p></html>')),
         |  ('<urn:uuid:rec-3>', 'response', 'https://example.net/b',
         |   CAST(33 AS BIGINT), 'missing', md5('missing')),
         |  ('<urn:uuid:rec-4>', 'conversion', 'http://example.org/a',
         |   CAST(10 AS BIGINT), 'Alpha page', md5('Alpha page')),
         |  ('<urn:uuid:rec-5>', 'request', 'https://example.net/b',
         |   CAST(15 AS BIGINT), 'GET /b HTTP/1.1', md5('GET /b HTTP/1.1'))
         |) AS w(record_id, warc_type, target_uri, content_length,
         |       payload, payload_md5)
         |ORDER BY record_id""".stripMargin,

    // q216: the charset fixture's six records as literals; DuckDB
    // recomputes each md5 over the UTF-8 form of the text the decode
    // must produce (the Shift_JIS/Latin-1 bodies decoded, the broken
    // record's U+FFFD replacement written literally)
    "q216_warc_charset" ->
      ("""SELECT * FROM (VALUES
        |  ('<urn:uuid:cs-0001>', 'iso-8859-1', 'iso-8859-1', 1,
        |   md5('café ñandú, Äpfel größer')),
        |  ('<urn:uuid:cs-0002>', 'shift_jis', 'shift_jis', 1,
        |   md5('<html><head><meta charset="Shift_JIS"></head><body>""" +
        "こんにちは世界、テス" +
        "ト文書です。" +
        """</body></html>')),
        |  ('<urn:uuid:cs-0003>', CAST(NULL AS VARCHAR), 'utf-8', 1,
        |   md5('naïve UTF-8 body ✓ """ +
        "ответ" + """')),
        |  ('<urn:uuid:cs-0004>', 'utf-8', 'utf-8', 0,
        |   md5('abc' || chr(65533) || 'def')),
        |  ('<urn:uuid:cs-0005>', 'x-bogus-enc', 'utf-8', 0,
        |   md5('plain ascii body')),
        |  ('<urn:uuid:cs-0006>', CAST(NULL AS VARCHAR), 'utf-8', 1,
        |   md5('software: graft-test' || chr(10)))
        |) AS w(record_id, charset_declared, charset, decode_ok, text_md5)
        |ORDER BY record_id""").stripMargin,

    // q199: the WET fixture's three conversion records as literals,
    // text md5 recomputed from the same strings the scan must produce
    "q199_wet_ingest" ->
      """SELECT * FROM (VALUES
        |  ('<urn:uuid:wet-1>', 'http://example.org/a',
        |   '2024-03-01T00:00:01Z', CAST(47 AS BIGINT),
        |   'Alpha page text already extracted by the crawl.',
        |   md5('Alpha page text already extracted by the crawl.')),
        |  ('<urn:uuid:wet-2>', 'https://example.net/b',
        |   '2024-03-01T00:00:02Z', CAST(36 AS BIGINT),
        |   'Beta page text.' || chr(10) || 'Second line of beta.',
        |   md5('Beta page text.' || chr(10) || 'Second line of beta.')),
        |  ('<urn:uuid:wet-3>', 'https://sub.example.com/c',
        |   '2024-03-01T00:00:03Z', CAST(39 AS BIGINT),
        |   'Gamma page about nothing in particular.',
        |   md5('Gamma page about nothing in particular.'))
        |) AS w(record_id, target_uri, warc_date, content_length,
        |       text, text_md5)
        |ORDER BY record_id""".stripMargin,

    // q200: the WAT fixture's outlink arrays flattened, one row per link
    "q200_wat_links" ->
      """SELECT * FROM (VALUES
        |  ('http://example.org/a', 'https://example.net/b', 'A@/href'),
        |  ('http://example.org/a', 'https://www.example.org/about',
        |   'A@/href'),
        |  ('https://example.net/b', 'http://example.org/a', 'A@/href')
        |) AS w(src_url, dst_url, link_path)
        |ORDER BY src_url, dst_url""".stripMargin,

    "q106_pq_encode" -> pqEncodeOracle,

    "q121_quota_select" ->
      s"""WITH $qualityCtes,
         |b AS (SELECT * FROM (VALUES ('src0', 700), ('src1', 400),
         |        ('src2', 1000), ('src3', 99999)) AS b(source, budget)),
         |t AS (
         |  SELECT q.doc_id, q.source, round(q.quality, 6) AS quality,
         |         CAST(len(string_split(d.text, ' ')) AS BIGINT)
         |           AS n_tokens, b.budget
         |  FROM q JOIN documents d USING (doc_id)
         |         JOIN b ON q.source = b.source),
         |c AS (
         |  SELECT doc_id, source, quality, n_tokens, budget,
         |         CAST(sum(n_tokens) OVER (PARTITION BY source
         |           ORDER BY quality DESC, doc_id) AS BIGINT)
         |           AS cum_tokens
         |  FROM t)
         |SELECT doc_id, source, quality, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= budget ORDER BY doc_id""".stripMargin,

    "q120_budget_select" ->
      s"""WITH $qualityCtes,
         |t AS (
         |  SELECT q.doc_id, round(q.quality, 6) AS quality,
         |         CAST(len(string_split(d.text, ' ')) AS BIGINT)
         |           AS n_tokens
         |  FROM q JOIN documents d USING (doc_id)),
         |c AS (
         |  SELECT doc_id, quality, n_tokens,
         |         CAST(sum(n_tokens) OVER
         |           (ORDER BY quality DESC, doc_id) AS BIGINT)
         |           AS cum_tokens
         |  FROM t)
         |SELECT doc_id, quality, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= 12000 ORDER BY doc_id""".stripMargin,

    "q119_pit_enrich" ->
      """WITH s AS (
        |  SELECT user_id, ts, CAST(floor(value / 50) AS BIGINT) AS state
        |  FROM events WHERE event_type = 'signup'),
        |c AS (
        |  SELECT *, lag(state) OVER
        |           (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM s),
        |sg AS (
        |  SELECT user_id, state, ts AS valid_from,
        |         lead(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           AS valid_to
        |  FROM (SELECT user_id, ts, state FROM c
        |        WHERE prev IS NULL OR state <> prev)),
        |p AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, sg.state AS asof_state
        |FROM p LEFT JOIN sg ON p.user_id = sg.user_id
        |  AND sg.valid_from <= p.ts
        |  AND (sg.valid_to IS NULL OR p.ts < sg.valid_to)
        |ORDER BY event_id""".stripMargin,

    "q118_scd2" ->
      """WITH s AS (
        |  SELECT user_id, event_type, ts,
        |         CAST(floor(value / 50) AS BIGINT) AS state
        |  FROM events),
        |c AS (
        |  SELECT *, lag(state) OVER
        |           (PARTITION BY user_id, event_type ORDER BY ts) AS prev
        |  FROM s),
        |ch AS (SELECT user_id, event_type, ts, state FROM c
        |       WHERE prev IS NULL OR state <> prev)
        |SELECT user_id, event_type, state, ts AS valid_from,
        |       lead(ts) OVER
        |         (PARTITION BY user_id, event_type ORDER BY ts) AS valid_to
        |FROM ch
        |ORDER BY user_id, event_type, valid_from""".stripMargin,

    "q116_winsorize" ->
      """WITH st AS (
        |  SELECT event_type, quantile_cont(value, 0.05) AS qlo,
        |         quantile_cont(value, 0.95) AS qhi
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type,
        |       round(greatest(least(e.value, st.qhi), st.qlo), 6)
        |         AS clipped,
        |       CASE WHEN e.value < st.qlo OR e.value > st.qhi
        |            THEN 1 ELSE 0 END AS was_clipped
        |FROM events e JOIN st USING (event_type)
        |ORDER BY e.event_id""".stripMargin,

    "q112_normalize" ->
      """WITH st AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |         sum(value) AS s, sum(value * value) AS ss,
        |         min(value) AS mn, max(value) AS mx
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type,
        |       CASE WHEN sqrt(st.ss / st.n - (st.s / st.n) * (st.s / st.n)) > 0
        |            THEN round((e.value - st.s / st.n)
        |              / sqrt(st.ss / st.n - (st.s / st.n) * (st.s / st.n)), 4)
        |       END AS zscore,
        |       CASE WHEN st.mx - st.mn > 0
        |            THEN round((e.value - st.mn) / (st.mx - st.mn), 6)
        |       END AS minmax
        |FROM events e JOIN st USING (event_type)
        |ORDER BY event_id""".stripMargin,

    "q107_ks_distance" ->
      """WITH c AS (
        |  SELECT source AS g, n_chars AS v, count(*) AS n0
        |  FROM documents GROUP BY 1, 2),
        |d AS (
        |  SELECT dv.v, dg.g, coalesce(c.n0, 0) AS n
        |  FROM (SELECT DISTINCT v FROM c) dv
        |  CROSS JOIN (SELECT DISTINCT g FROM c) dg
        |  LEFT JOIN c ON c.g = dg.g AND c.v = dv.v),
        |t AS (SELECT g, sum(n0) AS tt FROM c GROUP BY g),
        |f AS (
        |  SELECT d.g, d.v,
        |         CAST(CAST(sum(d.n) OVER (PARTITION BY d.g ORDER BY d.v
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS DOUBLE)
        |           / CAST(t.tt AS DOUBLE) AS f
        |  FROM d JOIN t ON t.g = d.g)
        |SELECT a.g AS g_a, b.g AS g_b,
        |       round(max(abs(a.f - b.f)), 6) AS ks
        |FROM f a JOIN f b ON a.v = b.v AND a.g < b.g
        |GROUP BY 1, 2 ORDER BY g_a, g_b""".stripMargin,

    "q104_zipf_slope" ->
      """WITH tf AS (
        |  SELECT token, count(*) AS n
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
        |        FROM documents)
        |  WHERE len(token) > 0
        |  GROUP BY token ORDER BY n DESC, token LIMIT 100),
        |r AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, token)
        |           AS DOUBLE)) AS x,
        |         ln(CAST(n AS DOUBLE)) AS y
        |  FROM tf),
        |s AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS c, sum(x) AS sx, sum(y) AS sy,
        |         sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM r)
        |SELECT CAST(c AS BIGINT) AS n_tokens,
        |       round((c * sxy - sx * sy) / (c * sxx - sx * sx), 6) AS slope,
        |       round((sy - ((c * sxy - sx * sy) / (c * sxx - sx * sx)) * sx)
        |         / c, 6) AS intercept
        |FROM s""".stripMargin,

    "q56_neardup_pipeline" -> neardupPipelineOracle,

    "q57_group_cap" ->
      """SELECT lang, doc_id, rk FROM (
        |  SELECT lang, doc_id,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |           AS INTEGER) AS rk
        |  FROM documents)
        |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,

    "q61_batch_ann" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT q.q_id, e.vec_id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
        |           AS cosine
        |  FROM embeddings e CROSS JOIN q
        |  WHERE list_sum(list_transform(CAST(e.embedding AS DOUBLE[]),
        |          x -> abs(x))) > 0
        |    AND list_sum(list_transform(q.qv, x -> abs(x))) > 0),
        |r AS (
        |  SELECT q_id, vec_id, cosine,
        |         CAST(row_number() OVER (PARTITION BY q_id
        |           ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rk
        |  FROM scored)
        |SELECT q_id, rk, vec_id, round(cosine, 6) AS cosine
        |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    "q60_quantize_int8" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (
        |  SELECT vec_id, e,
        |         list_max(list_transform(e, x -> abs(x))) AS mx
        |  FROM v),
        |q AS (
        |  SELECT vec_id,
        |         CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END AS qscale,
        |         list_transform(e, x -> CAST(round(x *
        |           CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END)
        |           AS INTEGER)) AS qvec
        |  FROM s)
        |SELECT vec_id, round(qscale, 6) AS qscale,
        |       list_min(qvec) AS q_min, list_max(qvec) AS q_max,
        |       CAST(list_sum(qvec) AS BIGINT) AS q_sum
        |FROM q ORDER BY vec_id""".stripMargin,

    "q59_semdedup" ->
      // q58's assignment CTE as blocking, q28's cosine pair shape within
      // blocks, q41's recursive-CTE components for the representatives
      """WITH RECURSIVE seeds AS (
        |  SELECT vec_id AS cluster, CAST(embedding AS DOUBLE[]) AS c
        |  FROM embeddings WHERE vec_id < 3),
        |sims AS (
        |  SELECT e.vec_id, s.cluster,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.c)
        |           AS sim,
        |         CAST(e.embedding AS DOUBLE[]) AS v
        |  FROM embeddings e CROSS JOIN seeds s),
        |assigned AS (
        |  SELECT vec_id, cluster, v FROM (
        |    SELECT vec_id, cluster, v,
        |           row_number() OVER (PARTITION BY vec_id
        |             ORDER BY sim DESC, cluster ASC) AS rk
        |    FROM sims) WHERE rk = 1),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM assigned a JOIN assigned b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.5),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |comp AS (
        |  SELECT u, min(v) AS m FROM (
        |    SELECT u, v FROM reach
        |    UNION SELECT vec_id, vec_id FROM embeddings) GROUP BY u)
        |SELECT e.vec_id, comp.m AS rep_id, e.vec_id = comp.m AS keep
        |FROM embeddings e JOIN comp ON e.vec_id = comp.u
        |ORDER BY e.vec_id""".stripMargin,

    "q58_kmeans_assign" ->
      """WITH seeds AS (
        |  SELECT vec_id AS cluster, CAST(embedding AS DOUBLE[]) AS c
        |  FROM embeddings WHERE vec_id < 3),
        |sims AS (
        |  SELECT e.vec_id, s.cluster,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.c)
        |           AS sim
        |  FROM embeddings e CROSS JOIN seeds s),
        |r AS (
        |  SELECT vec_id, cluster, sim,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY sim DESC, cluster ASC) AS rk
        |  FROM sims)
        |SELECT vec_id, cluster, round(sim, 6) AS sim
        |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin,

    "q27_lsh_topk" -> lshTopkOracle,

    "q25_simhash" -> simhashOracle,

    // recomputes the synthesized pixel/sample formulas independently in
    // SQL; a hash match proves the engine's ImageIO/AudioSystem decode
    // returned the exact encoded numerics (PNG + PCM WAV are lossless)
    "q34_multimodal_features" ->
      """WITH gx AS (SELECT unnest(generate_series(0, 15)) AS x),
        |     gy AS (SELECT unnest(generate_series(0, 9)) AS y),
        |     gi AS (SELECT unnest(generate_series(0, 113)) AS i),
        |     img AS (
        |       SELECT d.doc_id,
        |              avg((d.doc_id * 1 + gx.x * 3 + gy.y * 7) % 256) AS m0,
        |              avg((d.doc_id * 2 + gx.x * 3 + gy.y * 7) % 256) AS m1,
        |              avg((d.doc_id * 3 + gx.x * 3 + gy.y * 7) % 256) AS m2
        |       FROM documents d CROSS JOIN gx CROSS JOIN gy
        |       WHERE gx.x < 4 + d.doc_id % 13 AND gy.y < 4 + d.doc_id % 7
        |       GROUP BY d.doc_id),
        |     aud AS (
        |       SELECT d.doc_id,
        |              avg((d.doc_id * 31 + gi.i * 17) % 2001 - 1000) AS m0,
        |              avg(abs((d.doc_id * 31 + gi.i * 17) % 2001 - 1000)) AS m1,
        |              sqrt(avg(((d.doc_id * 31 + gi.i * 17) % 2001 - 1000)
        |                * ((d.doc_id * 31 + gi.i * 17) % 2001 - 1000))) AS m2
        |       FROM documents d CROSS JOIN gi
        |       WHERE gi.i < 64 + d.doc_id % 50
        |       GROUP BY d.doc_id)
        |SELECT i.doc_id AS asset_id, 'image' AS modality,
        |       4 + i.doc_id % 13 AS width, 4 + i.doc_id % 7 AS height,
        |       round(i.m0, 6) AS m0, round(i.m1, 6) AS m1,
        |       round(i.m2, 6) AS m2
        |FROM img i WHERE i.doc_id % 3 = 0
        |UNION ALL
        |SELECT a.doc_id, 'audio', 64 + a.doc_id % 50, 1,
        |       round(a.m0, 6), round(a.m1, 6), round(a.m2, 6)
        |FROM aud a WHERE a.doc_id % 3 = 1
        |UNION ALL
        |SELECT i.doc_id, 'video', 4 + i.doc_id % 13, 4 + i.doc_id % 7,
        |       round(i.m0, 6), round(i.m1, 6), round(i.m2, 6)
        |FROM img i WHERE i.doc_id % 3 = 2
        |ORDER BY asset_id""".stripMargin,

    // resized pixel (X,Y) samples source (X*w/8, Y*h/8) integer-floored;
    // the oracle evaluates the synthesis formula at those coordinates
    "q102_image_resize" ->
      """WITH gx AS (SELECT unnest(generate_series(0, 7)) AS x),
        |     gy AS (SELECT unnest(generate_series(0, 7)) AS y)
        |SELECT d.doc_id AS asset_id,
        |       CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |       round(avg((d.doc_id * 1
        |         + ((gx.x * (4 + d.doc_id % 13)) // 8) * 3
        |         + ((gy.y * (4 + d.doc_id % 7)) // 8) * 7) % 256), 6) AS m0,
        |       round(avg((d.doc_id * 2
        |         + ((gx.x * (4 + d.doc_id % 13)) // 8) * 3
        |         + ((gy.y * (4 + d.doc_id % 7)) // 8) * 7) % 256), 6) AS m1,
        |       round(avg((d.doc_id * 3
        |         + ((gx.x * (4 + d.doc_id % 13)) // 8) * 3
        |         + ((gy.y * (4 + d.doc_id % 7)) // 8) * 7) % 256), 6) AS m2
        |FROM documents d CROSS JOIN gx CROSS JOIN gy
        |WHERE d.doc_id % 3 = 0
        |GROUP BY d.doc_id
        |ORDER BY asset_id""".stripMargin,

    // sample i of frame f is global sample f*32+i; mean/rms per frame
    // from the same integer sample formula as q34's audio branch
    "q103_audio_frames" ->
      """WITH a AS (SELECT doc_id, 64 + doc_id % 50 AS n
        |           FROM documents WHERE doc_id % 3 = 1),
        |     gf AS (SELECT unnest(generate_series(0, 3)) AS f),
        |     gi AS (SELECT unnest(generate_series(0, 31)) AS i)
        |SELECT a.doc_id AS asset_id, gf.f AS frame_idx,
        |       count(*) AS n_samples,
        |       round(avg((a.doc_id * 31 + (gf.f * 32 + gi.i) * 17)
        |         % 2001 - 1000), 6) AS mean,
        |       round(sqrt(avg(((a.doc_id * 31 + (gf.f * 32 + gi.i) * 17)
        |           % 2001 - 1000)
        |         * ((a.doc_id * 31 + (gf.f * 32 + gi.i) * 17)
        |           % 2001 - 1000))), 6) AS rms
        |FROM a CROSS JOIN gf CROSS JOIN gi
        |WHERE gf.f * 32 + gi.i < a.n
        |GROUP BY a.doc_id, gf.f
        |ORDER BY asset_id, frame_idx""".stripMargin,

    "q35_frame_sample" ->
      """WITH v AS (SELECT doc_id, 4 + doc_id % 13 AS w,
        |                  4 + doc_id % 7 AS h, 3 + doc_id % 10 AS nf
        |           FROM documents WHERE doc_id % 3 = 2),
        |     gf AS (SELECT unnest(generate_series(0, 7)) AS f),
        |     gc AS (SELECT unnest(generate_series(0, 2)) AS c),
        |     gx AS (SELECT unnest(generate_series(0, 15)) AS x),
        |     gy AS (SELECT unnest(generate_series(0, 9)) AS y)
        |SELECT v.doc_id AS asset_id, gf.f * 1000 AS frame_ms,
        |       v.w AS width, v.h AS height,
        |       round(avg((v.doc_id * (gc.c + 1) + gf.f * 11
        |         + gx.x * 3 + gy.y * 7) % 256), 6) AS mean_all
        |FROM v CROSS JOIN gf CROSS JOIN gc CROSS JOIN gx CROSS JOIN gy
        |WHERE gf.f < v.nf AND gx.x < v.w AND gy.y < v.h
        |GROUP BY v.doc_id, gf.f, v.w, v.h
        |ORDER BY asset_id, frame_ms""".stripMargin,

    "q130_image_dhash" ->
      s"""WITH $dhashFpCtes
         |SELECT id, fp FROM dfp ORDER BY id""".stripMargin,

    "q134_video_dhash" ->
      """WITH vid AS (
        |  SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 7 AS h,
        |         3 + doc_id % 10 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |grid AS (
        |  SELECT doc_id, f, x, y,
        |         least(x * w // 8, w - 1) AS sx,
        |         least(y * h // 8, h - 1) AS sy
        |  FROM vid, generate_series(0, 12) gf(f),
        |       generate_series(0, 7) gx(x), generate_series(0, 7) gy(y)
        |  WHERE f < nf),
        |lum AS (
        |  SELECT doc_id, f, x, y,
        |         (doc_id * 1 + f * 11 + sx * 3 + sy * 7) % 256
        |       + (doc_id * 2 + f * 11 + sx * 3 + sy * 7) % 256
        |       + (doc_id * 3 + f * 11 + sx * 3 + sy * 7) % 256 AS l
        |  FROM grid)
        |SELECT a.doc_id AS id, a.f AS frame,
        |       CAST(sum(CASE WHEN b.l > a.l
        |                     THEN 1::BIGINT << (a.y * 7 + a.x)
        |                     ELSE 0 END) AS BIGINT) AS fp
        |FROM lum a JOIN lum b
        |  ON b.doc_id = a.doc_id AND b.f = a.f
        | AND b.x = a.x + 1 AND b.y = a.y
        |WHERE a.x < 7
        |GROUP BY 1, 2 ORDER BY id, frame""".stripMargin,

    "q133_audio_dhash" ->
      """WITH aud AS (
        |  SELECT doc_id, 64 + doc_id % 50 AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |win AS (
        |  SELECT doc_id, i * 57 // n AS w,
        |         abs((doc_id * 31 + i * 17) % 2001 - 1000) AS a
        |  FROM aud, generate_series(0, 113) g(i) WHERE i < n),
        |e AS (SELECT doc_id, w, sum(a) AS e FROM win GROUP BY 1, 2)
        |SELECT a.doc_id AS id,
        |       CAST(sum(CASE WHEN b.e > a.e
        |                     THEN 1::BIGINT << a.w ELSE 0 END) AS BIGINT)
        |         AS fp
        |FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.w = a.w + 1
        |WHERE a.w < 56
        |GROUP BY 1 ORDER BY id""".stripMargin,

    "q132_image_dedup" ->
      s"""WITH $dhashFpCtes,
         |keep AS (
         |  SELECT fp, min(id) AS keep_id, count(*) AS n_images
         |  FROM dfp GROUP BY 1)
         |SELECT d.id, d.fp, k.keep_id, d.id = k.keep_id AS is_keeper,
         |       k.n_images
         |FROM dfp d JOIN keep k USING (fp) ORDER BY d.id""".stripMargin,

    "q129_silhouette" ->
      """WITH v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |cpos AS (
        |  SELECT label AS cluster, i AS pos, round(avg(e[i]), 6) AS m
        |  FROM v, generate_series(1, 64) g(i)
        |  GROUP BY 1, 2),
        |d AS (
        |  SELECT v.vec_id, v.label, cp.cluster,
        |         sqrt(sum((e[cp.pos] - cp.m) * (e[cp.pos] - cp.m))) AS dist
        |  FROM v JOIN cpos cp ON true
        |  GROUP BY 1, 2, 3),
        |ab AS (
        |  SELECT vec_id, label,
        |         min(CASE WHEN cluster = label THEN dist END) AS a,
        |         min(CASE WHEN cluster <> label THEN dist END) AS b
        |  FROM d GROUP BY 1, 2)
        |SELECT vec_id, label, round(a, 6) AS a, round(b, 6) AS b,
        |       round(CASE WHEN greatest(a, b) > 0
        |                  THEN (b - a) / greatest(a, b)
        |                  ELSE 0.0 END, 6) AS s
        |FROM ab ORDER BY vec_id""".stripMargin,

    "q128_k_anonymity" ->
      """WITH g AS (
        |  SELECT lang, source, n_chars // 100 AS len_bin, count(*) AS n
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        |       count(*) AS n_groups,
        |       CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS groups_below_k,
        |       CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0) AS BIGINT)
        |         AS rows_below_k,
        |       round(CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0)
        |               AS DOUBLE) / sum(n), 6) AS at_risk_fraction,
        |       CAST(min(n) AS BIGINT) AS min_group_size
        |FROM g""".stripMargin,

    "q127_training_shards" ->
      """SELECT doc_id,
        |       ('0x' || substr(md5('r5:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |         % 8 AS shard,
        |       ('0x' || substr(md5('r5:o:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |         AS shard_order
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q42_hash_split" ->
      """SELECT doc_id,
        |       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |         % 100 AS bucket,
        |       CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
        |            WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q43_pii_scrub" ->
      """SELECT doc_id,
        |       regexp_replace(regexp_replace(regexp_replace(
        |         concat_ws(' ',
        |           source || '+' || CAST(doc_id AS VARCHAR) || '@mail.example.org',
        |           'call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |           substr(text, 1, 40)),
        |         '[A-Za-z0-9.+_-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '\d{3}-\d{4}', '<PHONE>', 'g'),
        |         '\d{16}', '<CARD>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q44_topk_per_group" ->
      """SELECT source, doc_id, n_chars, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT source, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 3 ORDER BY source, rk""".stripMargin,

    "q45_anti_join" ->
      // NOT EXISTS, not NOT IN: a NULL l_orderkey would make NOT IN return
      // zero rows (three-valued logic) while Spark's left_anti keeps all
      // unmatched orders
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.07)
        |ORDER BY o_orderkey""".stripMargin,

    "q49_asof_nearest" ->
      // two ASOF joins (latest-at-or-before, earliest-at-or-after) then the
      // same pick rule as AsOf.asofNearest: within tolerance, smaller
      // |diff| wins, backward wins ties
      """WITH clicks AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
        |errors AS (
        |  SELECT user_id, ts, max(value) AS value FROM events
        |  WHERE event_type = 'error' GROUP BY user_id, ts),
        |b AS (
        |  SELECT c.event_id, c.user_id, c.ts, e.value AS bval, e.ts AS bts
        |  FROM clicks c ASOF LEFT JOIN errors e
        |    ON c.user_id = e.user_id AND e.ts <= c.ts),
        |f AS (
        |  SELECT c.event_id, e.value AS fval, e.ts AS fts
        |  FROM clicks c ASOF LEFT JOIN errors e
        |    ON c.user_id = e.user_id AND e.ts >= c.ts),
        |j AS (
        |  SELECT b.event_id, b.user_id, b.ts, bval, bts, fval, fts,
        |         epoch_us(b.ts) - epoch_us(bts) AS bdiff,
        |         epoch_us(fts) - epoch_us(b.ts) AS fdiff,
        |         (bts IS NOT NULL AND epoch_us(b.ts) - epoch_us(bts) <= 600000000
        |          AND (fts IS NULL OR epoch_us(fts) - epoch_us(b.ts) > 600000000
        |               OR epoch_us(b.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(b.ts)))
        |           AS use_b,
        |         (fts IS NOT NULL AND epoch_us(fts) - epoch_us(b.ts) <= 600000000)
        |           AS use_f
        |  FROM b JOIN f USING (event_id))
        |SELECT event_id, user_id, ts,
        |       CASE WHEN use_b THEN bval WHEN use_f THEN fval END AS nearest_value,
        |       CASE WHEN use_b THEN bts WHEN use_f THEN fts END AS nearest_ts,
        |       CASE WHEN use_b THEN bdiff WHEN use_f THEN fdiff END AS nearest_diff_us
        |FROM j ORDER BY event_id""".stripMargin,

    "q50_moving_avg" ->
      """SELECT event_id, user_id,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
        |              PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT)
        |         / (count(*) OVER (
        |              PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) * 100.0)
        |         AS mv
        |FROM events ORDER BY event_id""".stripMargin,

    "q51_interval_coverage" ->
      // merged-island union length (q06's merge shape) — exact integer µs
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
        |  FROM events),
        |m AS (
        |  SELECT user_id, s, e,
        |         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |              OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |         THEN 1 ELSE 0 END AS newi
        |  FROM iv),
        |g AS (
        |  SELECT user_id, s, e, sum(newi) OVER (PARTITION BY user_id ORDER BY s, e
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m),
        |isl AS (
        |  SELECT user_id, min(s) AS ms, max(e) AS me
        |  FROM g GROUP BY user_id, island)
        |SELECT user_id, CAST(sum(me - ms) AS BIGINT) AS covered_us
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q46_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,

    "q47_histogram" ->
      """SELECT CAST(floor(n_chars / 50) * 50 AS BIGINT) AS bin_lo,
        |       count(*) AS n_docs, min(n_chars) AS min_chars,
        |       max(n_chars) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY bin_lo""".stripMargin,

    "q48_pivot" ->
      """SELECT source,
        |       CAST(sum(CASE WHEN lang = 'de' THEN n_chars END) AS BIGINT) AS de,
        |       CAST(sum(CASE WHEN lang = 'en' THEN n_chars END) AS BIGINT) AS en,
        |       CAST(sum(CASE WHEN lang = 'es' THEN n_chars END) AS BIGINT) AS es,
        |       CAST(sum(CASE WHEN lang = 'fr' THEN n_chars END) AS BIGINT) AS fr,
        |       CAST(sum(CASE WHEN lang = 'zh' THEN n_chars END) AS BIGINT) AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q01_range_filter" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events WHERE value BETWEEN 5 AND 300
        |ORDER BY event_id""".stripMargin,

    "q02_partition_replace" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |WHERE (event_type <> 'click' OR value BETWEEN 1 AND 400)
        |  AND (event_type <> 'error' OR value BETWEEN 5 AND 300)
        |ORDER BY event_id""".stripMargin,

    "q03_epoch_window" ->
      """SELECT make_timestamp(CAST(floor(epoch_us(ts) / 300000000) AS BIGINT) * 300000000) AS window_start,
        |       event_type, count(*) AS n,
        |       sum(CAST(round(value * 100) AS BIGINT)) /
        |         (count(*) * 100.0) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q04_dedup_consecutive" ->
      """SELECT event_id, user_id, q FROM (
        |  SELECT event_id, user_id, CAST(floor(value / 50) AS BIGINT) AS q,
        |         lag(CAST(floor(value / 50) AS BIGINT)) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) AS pq
        |  FROM events)
        |WHERE pq IS NULL OR q <> pq ORDER BY event_id""".stripMargin,

    "q05_runlength_islands" ->
      """WITH q AS (
        |  SELECT user_id, ts, CAST(floor(value / 100) AS BIGINT) AS q,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts)
        |         - row_number() OVER (PARTITION BY user_id, CAST(floor(value / 100) AS BIGINT) ORDER BY ts) AS island
        |  FROM events)
        |SELECT user_id, q, min(ts) AS start_time, max(ts) AS end_time,
        |       count(*) AS n, count(*) <= 2 AS include
        |FROM q GROUP BY user_id, q, island
        |ORDER BY user_id, start_time, q""".stripMargin,

    "q06_interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, ts AS s, ts + INTERVAL 300 SECOND AS e FROM events),
        |m AS (
        |  SELECT user_id, s, e,
        |         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |              OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |         THEN 1 ELSE 0 END AS newi
        |  FROM iv),
        |g AS (
        |  SELECT user_id, s, e, sum(newi) OVER (PARTITION BY user_id ORDER BY s, e
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m)
        |SELECT user_id, min(s) AS start_time, max(e) AS end_time
        |FROM g GROUP BY user_id, island
        |ORDER BY user_id, start_time""".stripMargin,

    "q07_point_in_interval_join" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem l
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_totalprice > 499000
        |    AND l.l_shipdate BETWEEN o.o_orderdate
        |        AND o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q08_quantile_band" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.025), 4) AS lo,
        |       round(quantile_cont(l_extendedprice, 0.975), 4) AS hi
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q09_window_categorize" ->
      """WITH b AS (
        |  SELECT event_type,
        |         make_timestamp(CAST(floor(epoch_us(ts) / 300000000) AS BIGINT) * 300000000) AS start_time,
        |         avg(CASE WHEN value < 5 OR value > 200 THEN 1.0 ELSE 0.0 END) * 100 AS p
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, start_time, start_time + INTERVAL 5 MINUTE AS end_time,
        |       CASE WHEN p > 10 THEN 'high active'
        |            WHEN p > 5 THEN 'low active' ELSE 'rest' END AS category,
        |       round(p, 4) AS outlier_pct
        |FROM b ORDER BY event_type, start_time""".stripMargin,

    "q10_interval_subtract" ->
      """WITH base AS (
        |  SELECT user_id, ts AS s, ts + INTERVAL 10 MINUTE AS e
        |  FROM events WHERE event_type = 'click'),
        |sub AS (
        |  SELECT user_id, ts AS s, ts + INTERVAL 2 MINUTE AS e
        |  FROM events WHERE event_type = 'error'),
        |ev AS (
        |  SELECT user_id, s AS t, 1 AS bd, 0 AS sd FROM base
        |  UNION ALL SELECT user_id, e, -1, 0 FROM base
        |  UNION ALL SELECT user_id, s, 0, 1 FROM sub
        |  UNION ALL SELECT user_id, e, 0, -1 FROM sub),
        |agg AS (
        |  SELECT user_id, t, sum(bd) AS bd, sum(sd) AS sd
        |  FROM ev GROUP BY user_id, t),
        |cov AS (
        |  SELECT user_id, t,
        |         sum(bd) OVER (PARTITION BY user_id ORDER BY t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bc,
        |         sum(sd) OVER (PARTITION BY user_id ORDER BY t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sc,
        |         lead(t) OVER (PARTITION BY user_id ORDER BY t) AS nt
        |  FROM agg),
        |seg AS (
        |  SELECT user_id, t AS s, nt AS e FROM cov
        |  WHERE nt IS NOT NULL AND bc > 0 AND sc = 0 AND t < nt),
        |m AS (
        |  SELECT user_id, s, e,
        |         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |              OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |         THEN 1 ELSE 0 END AS newi
        |  FROM seg),
        |g AS (
        |  SELECT user_id, s, e, sum(newi) OVER (PARTITION BY user_id ORDER BY s, e
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m)
        |SELECT user_id, min(s) AS start_time, max(e) AS end_time
        |FROM g GROUP BY user_id, island
        |ORDER BY user_id, start_time""".stripMargin,

    // same sweep as q10 with the keep-condition flipped to BOTH-covered
    "q101_interval_intersect" ->
      """WITH base AS (
        |  SELECT user_id, ts AS s, ts + INTERVAL 60 MINUTE AS e
        |  FROM events WHERE event_type = 'click'),
        |sub AS (
        |  SELECT user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
        |  FROM events WHERE event_type = 'error'),
        |ev AS (
        |  SELECT user_id, s AS t, 1 AS bd, 0 AS sd FROM base
        |  UNION ALL SELECT user_id, e, -1, 0 FROM base
        |  UNION ALL SELECT user_id, s, 0, 1 FROM sub
        |  UNION ALL SELECT user_id, e, 0, -1 FROM sub),
        |agg AS (
        |  SELECT user_id, t, sum(bd) AS bd, sum(sd) AS sd
        |  FROM ev GROUP BY user_id, t),
        |cov AS (
        |  SELECT user_id, t,
        |         sum(bd) OVER (PARTITION BY user_id ORDER BY t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bc,
        |         sum(sd) OVER (PARTITION BY user_id ORDER BY t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sc,
        |         lead(t) OVER (PARTITION BY user_id ORDER BY t) AS nt
        |  FROM agg),
        |seg AS (
        |  SELECT user_id, t AS s, nt AS e FROM cov
        |  WHERE nt IS NOT NULL AND bc > 0 AND sc > 0 AND t < nt),
        |m AS (
        |  SELECT user_id, s, e,
        |         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |              OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |         THEN 1 ELSE 0 END AS newi
        |  FROM seg),
        |g AS (
        |  SELECT user_id, s, e, sum(newi) OVER (PARTITION BY user_id ORDER BY s, e
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m)
        |SELECT user_id, min(s) AS start_time, max(e) AS end_time
        |FROM g GROUP BY user_id, island
        |ORDER BY user_id, start_time""".stripMargin,

    "q11_gforce_math" ->
      """SELECT event_id,
        |       round(CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 1e6, 6) AS seconds,
        |       CAST(floor((epoch_us(ts) % 86400000000) / 300000000) AS INTEGER) AS bin,
        |       round(sqrt(value * value + (user_id % 10) * (user_id % 10)), 6) AS mag
        |FROM events ORDER BY event_id""".stripMargin,

    "q12_regexp_extract" ->
      """SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k,
        |       count(*) AS n
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin,

    "q13_unpivot" ->
      """SELECT l_orderkey, l_linenumber, kind, data FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS kind, l_quantity AS data FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, kind""".stripMargin,

    "q14_explode_smooth" ->
      """SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
        |       CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS val,
        |       make_timestamp((i - 1) * 100000) AS sample_ts
        |FROM embeddings, range(1, 6) t(i)
        |ORDER BY vec_id, pos""".stripMargin,

    "q15_counter_reset" ->
      """SELECT event_id, user_id, round(mins, 4) AS mins FROM (
        |  SELECT event_id, user_id,
        |         CASE WHEN pts IS NULL
        |                OR epoch_us(ts) - epoch_us(pts) > 43200000000
        |              THEN value
        |              WHEN value > pv THEN value - pv
        |              ELSE value END AS mins
        |  FROM (
        |    SELECT event_id, user_id, ts, value,
        |           lag(ts) OVER w AS pts, lag(value) OVER w AS pv
        |    FROM events
        |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)))
        |ORDER BY event_id""".stripMargin,

    "q16_merge_windows" ->
      """WITH b AS (
        |  SELECT event_type,
        |         make_timestamp(CAST(floor(epoch_us(ts) / 300000000) AS BIGINT) * 300000000) AS start_time,
        |         avg(CASE WHEN value < 5 OR value > 200 THEN 1.0 ELSE 0.0 END) * 100 AS p
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, start_time,
        |         start_time + INTERVAL 5 MINUTE AS end_time,
        |         CASE WHEN p > 10 THEN 'high active'
        |              WHEN p > 5 THEN 'low active' ELSE 'rest' END AS category
        |  FROM b),
        |m AS (
        |  SELECT *, CASE WHEN lag(end_time) OVER w IS NULL
        |                   OR category <> lag(category) OVER w
        |                   OR start_time <> lag(end_time) OVER w
        |            THEN 1 ELSE 0 END AS newr
        |  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY start_time, end_time)),
        |g AS (
        |  SELECT *, sum(newr) OVER (PARTITION BY event_type ORDER BY start_time, end_time
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM m)
        |SELECT event_type, category, min(start_time) AS start_time,
        |       max(end_time) AS end_time
        |FROM g GROUP BY event_type, category, run
        |ORDER BY event_type, start_time""".stripMargin,

    "q17_step_intervals" ->
      """SELECT user_id, event_id, ts - INTERVAL 10 MINUTE AS start_time,
        |       ts AS end_time
        |FROM events WHERE value > 300 ORDER BY event_id""".stripMargin,

    "q18_top1_rank" ->
      """SELECT event_type, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY value, event_id) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "q19_duration_parse" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(l_linenumber AS VARCHAR) || 'h' ||
        |       CAST(l_partkey % 60 AS VARCHAR) || 'm' AS dur_str,
        |       CAST(l_linenumber AS INTEGER) * 60 +
        |       CAST(l_partkey % 60 AS INTEGER) AS minutes
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q20_asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
        |errors AS (
        |  SELECT user_id, ts, max(value) AS value FROM events
        |  WHERE event_type = 'error' GROUP BY user_id, ts)
        |SELECT c.event_id, c.user_id, c.ts, e.value AS asof_value
        |FROM clicks c ASOF LEFT JOIN errors e
        |  ON c.user_id = e.user_id AND e.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,

    "q21_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "q22_dedup_normalized" ->
      """SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |       min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "q23_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(tk) >= 3 THEN
        |           list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |                          FOR i IN generate_series(1, len(tk) - 2)])
        |         ELSE [array_to_string(tk, ' ')] END AS sh
        |  FROM toks),
        |inv AS (
        |  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a,
        |         b.n_sh AS n_b, count(*) AS inter
        |  FROM inv a JOIN inv b ON a.shingle = b.shingle
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b,
        |       round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 6) AS jaccard
        |FROM pairs
        |WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= 0.1
        |ORDER BY id_a, id_b""".stripMargin,

    "q113_boilerplate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(tk) >= 3 THEN
        |           list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |                          FOR i IN generate_series(1, len(tk) - 2)])
        |         ELSE [array_to_string(tk, ' ')] END AS sh
        |  FROM toks),
        |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        |df AS (SELECT shingle, count(DISTINCT doc_id) AS df
        |       FROM inv GROUP BY 1)
        |SELECT i.doc_id, count(*) AS n_shingles,
        |       CAST(sum(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_duplicated,
        |       round(CAST(sum(CASE WHEN df.df > 1 THEN 1 ELSE 0 END)
        |           AS DOUBLE) / count(*), 6) AS dup_fraction
        |FROM inv i JOIN df USING (shingle)
        |GROUP BY i.doc_id ORDER BY doc_id""".stripMargin,

    "q114_substring_dedup" ->
      """WITH ch0 AS (
        |  SELECT doc_id,
        |         [{'pos': i, 'c': substr(text, i*32+1, 32)}
        |          FOR i IN generate_series(0, (length(text)-1) // 32)] AS chs
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, u.pos AS pos, u.c AS c
        |  FROM (SELECT doc_id, unnest(chs) AS u FROM ch0)),
        |dup AS (
        |  SELECT c, min(doc_id) AS owner FROM ch
        |  GROUP BY c HAVING count(DISTINCT doc_id) >= 2)
        |SELECT ch.doc_id, count(*) AS n_chunks,
        |       count(*) FILTER (WHERE dup.c IS NULL OR dup.owner = ch.doc_id)
        |         AS kept_chunks,
        |       coalesce(string_agg(ch.c, '' ORDER BY ch.pos)
        |                FILTER (WHERE dup.c IS NULL OR dup.owner = ch.doc_id),
        |                '') AS clean_text
        |FROM ch LEFT JOIN dup ON ch.c = dup.c
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q117_intradoc_dedup" ->
      """WITH ch AS (
        |  SELECT doc_id,
        |         [substr(text, i*6+1, 6)
        |          FOR i IN generate_series(0, (length(text)-1) // 6)] AS chs
        |  FROM documents)
        |SELECT doc_id, len(chs) AS n_chunks,
        |       len([chs[i] FOR i IN generate_series(1, len(chs))
        |            IF list_position(chs, chs[i]) = i]) AS kept_chunks,
        |       array_to_string([chs[i] FOR i IN generate_series(1, len(chs))
        |            IF list_position(chs, chs[i]) = i], '') AS clean_text
        |FROM ch ORDER BY doc_id""".stripMargin,

    "q111_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(tk) >= 3 THEN
        |           list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |                          FOR i IN generate_series(1, len(tk) - 2)])
        |         ELSE [array_to_string(tk, ' ')] END AS sh
        |  FROM toks),
        |inv AS (
        |  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a,
        |         b.n_sh AS n_b, count(*) AS inter
        |  FROM inv a JOIN inv b ON a.shingle = b.shingle
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b,
        |       round(CAST(inter AS DOUBLE) / n_a, 6) AS cont_a_in_b,
        |       round(CAST(inter AS DOUBLE) / n_b, 6) AS cont_b_in_a
        |FROM pairs
        |WHERE greatest(CAST(inter AS DOUBLE) / n_a,
        |               CAST(inter AS DOUBLE) / n_b) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    "q28_embedding_neardup" ->
      """WITH v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(a.e, b.e), 6) AS cosine
        |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.e, b.e) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    "q41_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(tk) >= 3 THEN
        |           list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |                          FOR i IN generate_series(1, len(tk) - 2)])
        |         ELSE [array_to_string(tk, ' ')] END AS sh
        |  FROM toks),
        |inv AS (
        |  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM inv a JOIN inv b ON a.shingle = b.shingle
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
        |  HAVING CAST(count(*) AS DOUBLE) / (a.n_sh + b.n_sh - count(*)) >= 0.4),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |comp AS (
        |  SELECT u, min(v) AS m FROM (
        |    SELECT u, v FROM reach
        |    UNION SELECT doc_id, doc_id FROM documents) GROUP BY u)
        |SELECT d.doc_id, comp.m AS cluster_id
        |FROM documents d JOIN comp ON d.doc_id = comp.u
        |ORDER BY d.doc_id""".stripMargin,

    "q26_embedding_topk" ->
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
        |  WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                q.qe) AS c
        |  FROM embeddings e, q
        |  ORDER BY c DESC, e.vec_id LIMIT 10)
        |SELECT vec_id, round(c, 6) AS cosine FROM scored
        |ORDER BY cosine DESC, vec_id""".stripMargin,

    "q39_ivf_topk" ->
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
        |  WHERE vec_id = 0),
        |cent AS (
        |  SELECT label, list(m ORDER BY pos) AS centroid FROM (
        |    SELECT label, i AS pos,
        |           avg(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS m
        |    FROM embeddings, generate_series(1, 64) t(i)
        |    GROUP BY label, i)
        |  GROUP BY label),
        |probes AS (
        |  SELECT label FROM cent, q
        |  ORDER BY list_cosine_similarity(centroid, qe) DESC, label
        |  LIMIT 3),
        |scored AS (
        |  SELECT e.vec_id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                q.qe) AS c
        |  FROM embeddings e, q
        |  WHERE e.label IN (SELECT label FROM probes)
        |  ORDER BY c DESC, e.vec_id LIMIT 10)
        |SELECT vec_id, round(c, 6) AS cosine FROM scored
        |ORDER BY cosine DESC, vec_id""".stripMargin,

    "q38_rolling_fingerprint" ->
      """WITH fps AS (
        |  SELECT doc_id,
        |         list_filter([md5(substr(text, CAST(i AS INTEGER), 16))
        |                      FOR i IN generate_series(1, greatest(len(text) - 15, 1))],
        |                     h -> h LIKE '0%') AS sampled,
        |         md5(text) AS whole
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(CASE WHEN len(sampled) > 0 THEN len(sampled) ELSE 1 END AS INTEGER) AS n_fps,
        |       CASE WHEN len(sampled) > 0 THEN list_min(sampled) ELSE whole END AS min_fp
        |FROM fps ORDER BY doc_id""".stripMargin,

    "q29_lang_id" ->
      s"""WITH r AS (
         |  SELECT doc_id,
         |         CASE WHEN len(string_split(lower(text), ' ')) > 0 THEN
         |           CAST(len(list_filter(string_split(lower(text), ' '),
         |                t -> t IN ($enStopList))) AS DOUBLE)
         |           / len(string_split(lower(text), ' '))
         |         ELSE 0.0 END AS sr
         |  FROM documents)
         |SELECT doc_id,
         |       CASE WHEN sr >= 0.12 THEN 'en' ELSE 'other' END AS lang_pred,
         |       round(sr, 6) AS stop_ratio
         |FROM r ORDER BY doc_id""".stripMargin,

    "q30_quality_score" ->
      s"""WITH $qualityCtes
         |SELECT doc_id, round(pr, 6) AS punct_ratio,
         |       round(mtl, 6) AS mean_tok_len,
         |       round(quality, 6) AS quality
         |FROM q ORDER BY doc_id""".stripMargin,

    "q31_token_count" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS INTEGER) AS n_subwords,
        |       CAST(len(text) AS INTEGER) AS n_chars_calc
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q32_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp,
        |       md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q40_star_join" ->
      """SELECT r_name, n_name, count(*) AS n_lines,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q36_distinct_count" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
        |       sum(n_chars) / (count(n_chars) * 1.0) AS avg_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q37_union_all" ->
      """SELECT src, id, amount FROM (
        |  SELECT 'order' AS src, o_orderkey AS id, o_totalprice AS amount
        |  FROM orders
        |  UNION ALL
        |  SELECT 'line', l_orderkey, l_extendedprice FROM lineitem)
        |ORDER BY src, id, amount""".stripMargin,

    "q33_sessionize" ->
      """SELECT event_id, user_id,
        |       CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (
        |  SELECT event_id, user_id, ts,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 3600000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events)
        |ORDER BY event_id""".stripMargin,

    "q52_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        |       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
        |       sum(CAST(json_extract(props, '$.k') AS BIGINT)) /
        |         (count(json_extract(props, '$.k')) * 1.0) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q53_tfidf_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE term <> '' GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
        |      WHERE text IS NOT NULL),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         tf.tf * (ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0) AS score
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, score,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY score DESC, term ASC) AS rk
        |  FROM scored)
        |SELECT doc_id, term, round(score, 6) AS score, rk
        |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "q54_decontaminate" ->
      // split definition must mirror q42's md5 bucket; shingle definition
      // must mirror q23's CASE (whole-text fallback under 8 tokens)
      """WITH split AS (
        |  SELECT *, CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
        |                 WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'val'
        |                 ELSE 'test' END AS split
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, split,
        |         CASE WHEN len(tk) >= 8 THEN
        |           list_distinct([array_to_string(tk[i:i+7], ' ')
        |                          FOR i IN generate_series(1, len(tk) - 7)])
        |         ELSE [array_to_string(tk, ' ')] END AS sh
        |  FROM (SELECT doc_id, split, string_split(lower(text), ' ') AS tk
        |        FROM split WHERE text IS NOT NULL)),
        |contaminated AS (
        |  SELECT DISTINCT a.doc_id
        |  FROM (SELECT doc_id, unnest(sh) AS g FROM sh WHERE split = 'train') a
        |  JOIN (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE split = 'test') b
        |    ON a.g = b.g)
        |SELECT doc_id, n_chars FROM split
        |WHERE split = 'train'
        |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
        |ORDER BY doc_id""".stripMargin,

    "q55_repetition" ->
      """WITH g AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |b AS (
        |  SELECT doc_id,
        |         CASE WHEN tk IS NULL OR len(tk) < 2 THEN NULL
        |              ELSE [tk[i] || ' ' || tk[i+1]
        |                    FOR i IN generate_series(1, len(tk) - 1)] END AS bg
        |  FROM g)
        |SELECT doc_id,
        |       CASE WHEN bg IS NULL THEN 0.0
        |            ELSE round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)
        |                             / len(bg), 6) END AS rep2
        |FROM b ORDER BY doc_id""".stripMargin,

    // identical semantics to q07 — the binned execution path must produce
    // the exact same relation
    "q62_binned_interval_join" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem l
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_totalprice > 499000
        |    AND l.l_shipdate BETWEEN o.o_orderdate
        |        AND o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q63_chunk_tokens" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |  WHERE text IS NOT NULL)
        |SELECT doc_id, s AS token_start,
        |       array_to_string(list_slice(tk, s + 1, s + 32), ' ')
        |         AS chunk_text
        |FROM toks, unnest(range(0, len(tk), 24)) AS t(s)
        |ORDER BY doc_id, token_start""".stripMargin,

    "q64_mixture_sample" ->
      """WITH shares(stratum, share) AS (
        |  VALUES ('src0', CAST(0.3 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
        |         ('src2', CAST(0.4 AS DOUBLE))),
        |counts AS (
        |  SELECT s.stratum, s.share, coalesce(rc.c0, 0) AS c
        |  FROM shares s LEFT JOIN (
        |    SELECT source AS stratum, count(*) AS c0 FROM documents
        |    JOIN shares ON source = stratum GROUP BY source) rc
        |  USING (stratum)),
        |tmax AS (
        |  SELECT min(CAST(c AS DOUBLE) / share) AS t FROM counts),
        |rates AS (
        |  SELECT stratum,
        |         CASE WHEN CAST(c AS DOUBLE) / share <= tmax.t
        |              THEN 1000000
        |              ELSE CAST(floor(least(1.0,
        |                     share * tmax.t / CAST(c AS DOUBLE))
        |                     * 1000000) AS BIGINT) END AS rate_ppm
        |  FROM counts, tmax)
        |SELECT d.doc_id, d.source FROM documents d
        |JOIN rates r ON d.source = r.stratum
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        |        % 1000000 < r.rate_ppm
        |ORDER BY d.doc_id""".stripMargin,

    "q124_chunk_sharing" ->
      """WITH ch AS (
        |  SELECT DISTINCT source AS g,
        |         unnest([substr(text, i*32+1, 32)
        |                 FOR i IN generate_series(0,
        |                   (length(text)-1) // 32)]) AS c
        |  FROM documents)
        |SELECT a.g AS source_a, b.g AS source_b,
        |       count(*) AS shared_chunks
        |FROM ch a JOIN ch b ON a.c = b.c AND a.g < b.g
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q123_token_novelty" ->
      """WITH inv AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |    FROM documents)
        |  WHERE len(token) > 0),
        |f AS (SELECT token, min(doc_id) AS first_id FROM inv GROUP BY 1)
        |SELECT inv.doc_id, count(*) AS n_distinct_tokens,
        |       CAST(sum(CASE WHEN f.first_id = inv.doc_id
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       round(CAST(sum(CASE WHEN f.first_id = inv.doc_id
        |                          THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS novelty
        |FROM inv JOIN f USING (token)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q122_nucleus_vocab" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |c AS (SELECT lang, token, count(*) AS cnt FROM tok
        |      WHERE len(token) > 0 GROUP BY 1, 2),
        |t AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS total
        |      FROM c GROUP BY 1),
        |w AS (SELECT c.lang, c.token, CAST(c.cnt AS BIGINT) AS cnt,
        |             CAST(sum(c.cnt) OVER (PARTITION BY c.lang
        |               ORDER BY c.cnt DESC, c.token) AS BIGINT) AS cum,
        |             t.total
        |      FROM c JOIN t USING (lang))
        |SELECT lang, token, cnt, cum FROM w
        |WHERE cum - cnt < total * 0.5
        |ORDER BY lang, cum""".stripMargin,

    "q65_vocab_topk" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
        |      FROM documents)
        |WHERE len(token) > 0
        |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,

    "q66_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id AS u, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id AS u, min(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.u
        |  WHERE e.event_type = 'click' AND e.ts > s1.t
        |    AND e.ts <= s1.t + INTERVAL 12 HOUR GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id AS u, min(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.u
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t
        |    AND e.ts <= s2.t + INTERVAL 12 HOUR GROUP BY 1)
        |SELECT 1 AS step, 'view' AS event_type,
        |       (SELECT count(*) FROM s1) AS users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
        |ORDER BY step""".stripMargin,

    "q67_retention" ->
      """WITH cohorts AS (
        |  SELECT user_id AS u,
        |         CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |acts AS (
        |  SELECT DISTINCT cohort_week,
        |         CAST(floor(date_diff('day', cohort_week,
        |                              CAST(e.ts AS DATE)) / 7) AS INTEGER)
        |           AS week_offset,
        |         e.user_id AS u
        |  FROM events e JOIN cohorts ON e.user_id = cohorts.u
        |  WHERE CAST(e.ts AS DATE) >= cohort_week)
        |SELECT cohort_week, week_offset, count(*) AS active_users
        |FROM acts GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q68_time_to_convert" ->
      """WITH f AS (
        |  SELECT user_id AS u, min(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |t AS (
        |  SELECT e.user_id AS u, f.t0, min(e.ts) AS t1 FROM events e
        |  JOIN f ON e.user_id = f.u
        |  WHERE e.event_type = 'purchase' AND e.ts > f.t0 GROUP BY 1, 2)
        |SELECT CAST(floor(date_diff('microseconds', t0, t1) / 60000000)
        |            AS BIGINT) AS delay_minutes,
        |       count(*) AS users
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "q69_fuzzy_pairs" ->
      """WITH d AS (SELECT DISTINCT p_name AS v FROM part
        |           WHERE p_name IS NOT NULL)
        |SELECT a.v AS v_a, b.v AS v_b,
        |       CAST(levenshtein(a.v, b.v) AS INTEGER) AS dist
        |FROM d a JOIN d b
        |  ON split_part(a.v, ' ', 1) = split_part(b.v, ' ', 1)
        | AND a.v < b.v
        |WHERE levenshtein(a.v, b.v) <= 3
        |ORDER BY v_a, v_b""".stripMargin,

    "q115_jaro_pairs" ->
      """WITH d AS (SELECT DISTINCT p_name AS v FROM part
        |           WHERE p_name IS NOT NULL)
        |SELECT a.v AS v_a, b.v AS v_b,
        |       round(jaro_winkler_similarity(a.v, b.v), 6) AS sim
        |FROM d a JOIN d b
        |  ON split_part(a.v, ' ', 1) = split_part(b.v, ' ', 1)
        | AND a.v < b.v
        |WHERE jaro_winkler_similarity(a.v, b.v) >= 0.85
        |ORDER BY v_a, v_b""".stripMargin,

    "q70_hopping_window" ->
      """SELECT make_timestamp(ws_us) AS ws, count(*) AS n,
        |       sum(CAST(round(value * 100) AS BIGINT)) /
        |         (count(*) * 100.0) AS avg_value
        |FROM (
        |  SELECT (CAST(floor(epoch(ts) / 300) AS BIGINT) - o) * 300000000
        |           AS ws_us,
        |         value
        |  FROM events, unnest([0, 1]) AS t(o))
        |GROUP BY ws_us ORDER BY ws""".stripMargin,

    "q72_frequent_tokens" ->
      """SELECT token, count(*) AS estimate, count(*) AS lower,
        |       count(*) AS upper
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
        |      FROM documents)
        |WHERE len(token) > 0
        |GROUP BY token ORDER BY estimate DESC, token""".stripMargin,

    "q73_sequence_packing" ->
      """WITH toks AS (
        |  SELECT source, doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |packed AS (
        |  SELECT source, n_tokens,
        |         CAST(floor(CAST(coalesce(sum(n_tokens) OVER (
        |             PARTITION BY source ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) / 1024.0) AS BIGINT) AS pack_id
        |  FROM toks)
        |SELECT source, pack_id, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM packed GROUP BY source, pack_id
        |ORDER BY source, pack_id""".stripMargin,

    "q71_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,

    "q74_bm25_topk" -> bm25Oracle,

    "q90_dataset_card" -> datasetCardOracle,

    "q91_asof_forward" ->
      """WITH v AS (
        |  SELECT user_id, event_id, -epoch_us(ts) AS nts FROM events
        |  WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, value, -epoch_us(ts) AS nts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT v.event_id, v.user_id, p.value AS asof_value
        |FROM v ASOF LEFT JOIN p
        |  ON v.user_id = p.user_id AND v.nts >= p.nts
        |ORDER BY v.event_id""".stripMargin,

    "q92_frequent_by_lang" ->
      """SELECT lang, token, count(*) AS estimate
        |FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS token
        |      FROM documents)
        |WHERE len(token) > 0
        |GROUP BY lang, token
        |ORDER BY lang, estimate DESC, token""".stripMargin,

    "q98_percent_rank" ->
      """SELECT event_id, event_type,
        |       round(percent_rank() OVER (PARTITION BY event_type
        |             ORDER BY value ASC NULLS LAST, event_id), 6) AS pr
        |FROM events ORDER BY event_id""".stripMargin,

    "q99_hourly_corr" ->
      """WITH c AS (
        |  SELECT make_timestamp(CAST(floor(epoch_us(ts) / 3600000000)
        |           AS BIGINT) * 3600000000) AS h,
        |         event_type AS t, count(*) AS n0
        |  FROM events GROUP BY 1, 2),
        |dense AS (
        |  SELECT b.h, ty.t, coalesce(c.n0, 0) AS n
        |  FROM (SELECT DISTINCT h FROM c) b
        |  CROSS JOIN (SELECT DISTINCT t FROM c) ty
        |  LEFT JOIN c ON c.h = b.h AND c.t = ty.t),
        |p AS (
        |  SELECT a.t AS t_a, b.t AS t_b, a.n AS x, b.n AS y
        |  FROM dense a JOIN dense b ON a.h = b.h AND a.t < b.t),
        |st AS (
        |  SELECT t_a, t_b, count(*) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM p GROUP BY 1, 2),
        |d AS (
        |  SELECT t_a, t_b, n,
        |         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den_a,
        |         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS den_b
        |  FROM st)
        |SELECT t_a, t_b, n,
        |       CASE WHEN den_a > 0 AND den_b > 0 THEN
        |         round(num / (sqrt(den_a) * sqrt(den_b)), 6)
        |       END AS r
        |FROM d ORDER BY t_a, t_b""".stripMargin,

    "q100_session_baskets" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_type,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR date_diff('microsecond', lag(ts) OVER w, ts)
        |                 > 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, event_type,
        |         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS session_id
        |  FROM o),
        |st AS (SELECT DISTINCT user_id, session_id, event_type AS t FROM s)
        |SELECT a.t AS t_a, b.t AS t_b, count(*) AS support
        |FROM st a JOIN st b
        |  ON a.user_id = b.user_id AND a.session_id = b.session_id
        | AND a.t < b.t
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q95_unigram_nll" ->
      """WITH tok AS (
        |  SELECT doc_id, t AS token FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE len(t) > 0),
        |vocab AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total FROM vocab),
        |probs AS (SELECT token, c / n_total AS p FROM vocab CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_tokens, round(avg(-ln(p)), 6) AS nll
        |FROM tok JOIN probs USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q109_bigram_nll" ->
      """WITH l AS (
        |  SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '),
        |                     x -> len(x) > 0) AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |bg AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bigram,
        |         toks[i] AS w1
        |  FROM (SELECT doc_id, toks,
        |               unnest(generate_series(1, len(toks) - 1)) AS i
        |        FROM l)),
        |cbg AS (SELECT bigram, count(*) AS c_bg FROM bg GROUP BY 1),
        |cw AS (SELECT w1, count(*) AS c_w1 FROM bg GROUP BY 1)
        |SELECT bg.doc_id, count(*) AS n_bigrams,
        |       round(avg(-ln(CAST(cbg.c_bg AS DOUBLE) / cw.c_w1)), 6) AS nll
        |FROM bg JOIN cbg USING (bigram) JOIN cw USING (w1)
        |GROUP BY bg.doc_id ORDER BY doc_id""".stripMargin,

    "q110_feature_hashing" ->
      """SELECT doc_id,
        |       ('0x' || substr(md5(t), 1, 8))::BIGINT % 64 AS bucket,
        |       count(*) AS n
        |FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |      FROM documents WHERE text IS NOT NULL)
        |WHERE len(t) > 0
        |GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,

    "q96_vocab_overlap" ->
      """WITH gt AS (
        |  SELECT DISTINCT source AS g, t AS token FROM (
        |    SELECT source, unnest(string_split(lower(text), ' ')) AS t
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE len(t) > 0),
        |sizes AS (SELECT g, count(*) AS n FROM gt GROUP BY 1),
        |inter AS (
        |  SELECT a.g AS g_a, b.g AS g_b, count(*) AS n_shared
        |  FROM gt a JOIN gt b ON a.token = b.token AND a.g < b.g
        |  GROUP BY 1, 2)
        |SELECT g_a, g_b, n_shared,
        |       round(CAST(n_shared AS DOUBLE)
        |             / (sa.n + sb.n - n_shared), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.g = g_a
        |JOIN sizes sb ON sb.g = g_b
        |ORDER BY g_a, g_b""".stripMargin,

    "q97_psi" ->
      """WITH e AS (
        |  SELECT CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)),
        |                    1, 8))::BIGINT % 2 = 0
        |              THEN 'a' ELSE 'b' END AS coh,
        |         CAST(floor(value / 50.0) AS BIGINT) AS bin
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT coh, bin, count(*) AS n FROM e GROUP BY 1, 2),
        |tot AS (SELECT coh, CAST(sum(n) AS DOUBLE) AS t FROM b GROUP BY 1),
        |s AS (SELECT coh, bin, n / t AS p FROM b JOIN tot USING (coh))
        |SELECT count(*) AS n_bins,
        |       round(sum((sa.p - sb.p) * ln(sa.p / sb.p)), 6) AS psi
        |FROM (SELECT bin, p FROM s WHERE coh = 'a') sa
        |JOIN (SELECT bin, p FROM s WHERE coh = 'b') sb USING (bin)""".stripMargin,

    "q94_label_centroids" ->
      """SELECT label, CAST(p - 1 AS INTEGER) AS pos, round(avg(x), 6) AS m
        |FROM (
        |  SELECT label, unnest(embedding) AS x,
        |         generate_subscripts(embedding, 1) AS p
        |  FROM embeddings)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "q93_ohlc_bars" ->
      """SELECT user_id,
        |       make_timestamp(CAST(floor(epoch_us(ts) / 3600000000)
        |                      AS BIGINT) * 3600000000) AS bucket_ts,
        |       first(value ORDER BY ts, event_id) AS open,
        |       max(value) AS high, min(value) AS low,
        |       last(value ORDER BY ts, event_id) AS close,
        |       count(*) AS n
        |FROM events
        |GROUP BY user_id, bucket_ts
        |ORDER BY user_id, bucket_ts""".stripMargin,

    "q75_adaptive_gate" -> adaptiveGateOracle,

    "q76_keep_best" -> neardupKeepBestOracle,

    "q77_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type,
        |         quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |  FROM events e JOIN med m USING (event_type) GROUP BY 1),
        |flags AS (
        |  SELECT e.event_type, m.med, d.mad,
        |         CASE WHEN 0.6745 * abs(e.value - m.med) > 3.5 * d.mad
        |              THEN 1 ELSE 0 END AS is_outlier
        |  FROM events e JOIN med m USING (event_type)
        |                JOIN mad d USING (event_type))
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(is_outlier) AS BIGINT) AS n_outliers,
        |       round(max(med), 6) AS med, round(max(mad), 6) AS mad
        |FROM flags GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q78_transitions" ->
      """SELECT from_type, to_type, count(*) AS n
        |FROM (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS from_type,
        |         event_type AS to_type
        |  FROM events)
        |WHERE from_type IS NOT NULL
        |GROUP BY from_type, to_type ORDER BY from_type, to_type""".stripMargin,

    "q79_quantile_buckets" ->
      """SELECT event_type, CAST(bucket AS INTEGER) AS bucket,
        |       count(*) AS n, round(min(value), 2) AS lo,
        |       round(max(value), 2) AS hi
        |FROM (
        |  SELECT event_type, value,
        |         ntile(10) OVER (PARTITION BY event_type
        |           ORDER BY value, event_id) AS bucket
        |  FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q80_ab_test" ->
      """WITH va AS (
        |  SELECT u, ('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 8))::BIGINT
        |           % 2 AS variant
        |  FROM (SELECT DISTINCT user_id AS u FROM events)),
        |conv AS (
        |  SELECT DISTINCT user_id AS u FROM events
        |  WHERE event_type = 'purchase' AND value > 300),
        |pu AS (
        |  SELECT va.variant, CASE WHEN conv.u IS NULL THEN 0 ELSE 1 END AS c
        |  FROM va LEFT JOIN conv ON va.u = conv.u),
        |counts AS (
        |  SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS users_a,
        |         CAST(sum(CASE WHEN variant = 0 THEN c ELSE 0 END) AS BIGINT)
        |           AS conv_a,
        |         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS users_b,
        |         CAST(sum(CASE WHEN variant = 1 THEN c ELSE 0 END) AS BIGINT)
        |           AS conv_b
        |  FROM pu)
        |SELECT users_a, conv_a, users_b, conv_b,
        |       round(CAST(conv_a AS DOUBLE) / users_a, 6) AS rate_a,
        |       round(CAST(conv_b AS DOUBLE) / users_b, 6) AS rate_b,
        |       CASE WHEN conv_a + conv_b > 0
        |             AND conv_a + conv_b < users_a + users_b THEN
        |         round((CAST(conv_a AS DOUBLE) / users_a
        |                - CAST(conv_b AS DOUBLE) / users_b)
        |           / sqrt(CAST(conv_a + conv_b AS DOUBLE)
        |                    / (users_a + users_b)
        |                  * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
        |                           / (users_a + users_b))
        |                  * (1.0 / users_a + 1.0 / users_b)), 6)
        |       END AS z
        |FROM counts""".stripMargin,

    "q81_pmi_pairs" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id AS id, t AS token FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE len(t) > 0),
        |vocab AS (
        |  SELECT token, count(*) AS n_t FROM dt GROUP BY token
        |  ORDER BY n_t DESC, token LIMIT 10000),
        |n AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
        |  WHERE text IS NOT NULL),
        |pairs AS (
        |  SELECT a.token AS t_a, b.token AS t_b, count(*) AS n_ab
        |  FROM dt a JOIN dt b ON a.id = b.id AND a.token < b.token
        |  GROUP BY 1, 2 HAVING count(*) >= 50)
        |SELECT t_a, t_b, n_ab,
        |       round(ln(CAST(n_ab AS DOUBLE) * n_docs
        |             / (CAST(va.n_t AS DOUBLE) * CAST(vb.n_t AS DOUBLE))), 6)
        |         AS pmi
        |FROM pairs
        |JOIN vocab va ON va.token = t_a
        |JOIN vocab vb ON vb.token = t_b
        |CROSS JOIN n
        |ORDER BY pmi DESC, t_a, t_b LIMIT 40""".stripMargin,

    "q83_salted_agg" ->
      """SELECT event_type, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q88_cusum" ->
      """WITH m AS (
        |  SELECT event_type, avg(value) AS mean FROM events GROUP BY 1),
        |c AS (
        |  SELECT e.event_type,
        |         sum(e.value - m.mean) OVER (PARTITION BY e.event_type
        |           ORDER BY e.ts, e.event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |  FROM events e JOIN m USING (event_type))
        |SELECT event_type,
        |       CAST(sum(CASE WHEN abs(s) > 2000.0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_drift,
        |       round(max(abs(s)), 4) AS max_abs_cusum
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q89_dq_report" ->
      """WITH a AS (
        |  SELECT count(*) AS total,
        |    CAST(sum(CASE WHEN value IS NOT NULL THEN 0 ELSE 1 END)
        |         AS BIGINT) AS v0,
        |    CAST(sum(CASE WHEN value BETWEEN 0.0 AND 1000.0 THEN 0 ELSE 1
        |         END) AS BIGINT) AS v1,
        |    CAST(sum(CASE WHEN event_type IN ('view', 'click', 'purchase',
        |         'signup', 'error') THEN 0 ELSE 1 END) AS BIGINT) AS v2,
        |    CAST(sum(CASE WHEN value <= 300.0 THEN 0 ELSE 1 END)
        |         AS BIGINT) AS v3,
        |    CAST(sum(CASE WHEN year(ts) = 2024 THEN 0 ELSE 1 END)
        |         AS BIGINT) AS v4,
        |    count(DISTINCT event_id) AS d0
        |  FROM events)
        |SELECT "check", total, violations,
        |       CASE WHEN violations = 0 THEN 1 ELSE 0 END AS pass
        |FROM (
        |  SELECT 'value_not_null' AS "check", total, v0 AS violations FROM a
        |  UNION ALL SELECT 'value_range', total, v1 FROM a
        |  UNION ALL SELECT 'known_type', total, v2 FROM a
        |  UNION ALL SELECT 'value_le_300', total, v3 FROM a
        |  UNION ALL SELECT 'ts_in_2024', total, v4 FROM a
        |  UNION ALL SELECT 'unique_event_id', total, total - d0 FROM a)
        |ORDER BY "check"""".stripMargin,

    "q85_resample_ffill" ->
      """WITH b AS (
        |  SELECT user_id,
        |         make_timestamp(CAST(floor(epoch(min(ts)) / 3600) AS BIGINT)
        |                        * 3600 * 1000000) AS t0,
        |         make_timestamp(CAST(floor(epoch(max(ts)) / 3600) AS BIGINT)
        |                        * 3600 * 1000000) AS t1
        |  FROM events GROUP BY 1),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR))
        |           AS grid_ts
        |  FROM b)
        |SELECT g.user_id, g.grid_ts, e.value AS asof_value
        |FROM grid g ASOF LEFT JOIN events e
        |  ON g.user_id = e.user_id AND g.grid_ts >= e.ts
        |ORDER BY g.user_id, g.grid_ts""".stripMargin,

    "q86_weighted_sample" ->
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |         ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |              1, 8))::BIGINT % 1000000 + 1) / 1000000.0)
        |           / n_chars AS skey
        |  FROM documents
        |  ORDER BY skey DESC, doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin,

    // q215: canonical groups re-derived from the formulas (all URL
    // shapes are already in normalized form, so normalizeUrl is the
    // identity on them); the %3=1 branch restates the root-relative
    // resolution against the page origin; keep-first window restated
    "q215_canonical_dedup" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |         THEN 'https://example.com/canon/'
        |              || CAST(doc_id % 9 AS VARCHAR)
        |         WHEN doc_id % 3 = 1
        |         THEN 'https://h' || CAST(doc_id % 4 AS VARCHAR)
        |              || '.example.com/c' || CAST(doc_id % 9 AS VARCHAR)
        |         ELSE 'https://h' || CAST(doc_id % 4 AS VARCHAR)
        |              || '.example.com/p'
        |              || CAST(doc_id AS VARCHAR) END AS canonical
        |  FROM documents)
        |SELECT doc_id, canonical,
        |       CAST(CASE WHEN row_number() OVER (PARTITION BY canonical
        |              ORDER BY doc_id) = 1 THEN 1 ELSE 0 END AS INTEGER)
        |         AS keep
        |FROM c ORDER BY doc_id""".stripMargin,

    // q213/q214: expectations re-derived from the synthesis formulas,
    // independent of the regex extraction (the q195 convention)
    "q213_crawl_compliance" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS INTEGER)
        |    AS noindex,
        |  CAST(CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS INTEGER)
        |    AS nofollow,
        |  CASE WHEN doc_id % 3 = 0
        |       THEN 'https://example.com/c' || CAST(doc_id % 7 AS VARCHAR)
        |       WHEN doc_id % 5 = 0
        |       THEN 'https://example.com/r' || CAST(doc_id % 7 AS VARCHAR)
        |  END AS canonical
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q214_sitemap_urls" ->
      """SELECT doc_id, CAST(1 AS INTEGER) AS url_no,
        |       'https://example.com/p' || CAST(doc_id AS VARCHAR) AS url
        |FROM documents
        |UNION ALL
        |SELECT doc_id, CAST(2 AS INTEGER),
        |       'https://example.com/q' || CAST(doc_id % 5 AS VARCHAR)
        |FROM documents
        |ORDER BY doc_id, url_no""".stripMargin,

    // q212: the five fixture envelopes classified as literals
    "q212_http_gates" ->
      """SELECT * FROM (VALUES
        |  ('<urn:uuid:rec-1>', CAST(NULL AS INTEGER),
        |   CAST(NULL AS VARCHAR)),
        |  ('<urn:uuid:rec-2>', 200, 'text/html'),
        |  ('<urn:uuid:rec-3>', 404, CAST(NULL AS VARCHAR)),
        |  ('<urn:uuid:rec-4>', CAST(NULL AS INTEGER),
        |   CAST(NULL AS VARCHAR)),
        |  ('<urn:uuid:rec-5>', CAST(NULL AS INTEGER),
        |   CAST(NULL AS VARCHAR))
        |) AS w(record_id, http_status, content_type)
        |ORDER BY record_id""".stripMargin,

    // q211: the identical A-ES key ranked inside each source stratum
    "q211_weighted_sample_per_group" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |                1, 8))::BIGINT % 1000000 + 1) / 1000000.0)
        |             / n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY doc_id""".stripMargin,

    "q87_token_entropy" ->
      """WITH tk AS (
        |  SELECT doc_id, t AS token FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |    FROM documents)
        |  WHERE len(t) > 0),
        |cnt AS (SELECT doc_id, token, count(*) AS c FROM tk GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n
        |        FROM cnt GROUP BY 1),
        |e AS (
        |  SELECT cnt.doc_id,
        |         0.0 - sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n))
        |           AS ent
        |  FROM cnt JOIN tot USING (doc_id) GROUP BY cnt.doc_id)
        |SELECT d.doc_id,
        |       CASE WHEN d.text IS NULL THEN NULL
        |            ELSE round(coalesce(e.ent, 0.0), 6) END AS entropy
        |FROM documents d LEFT JOIN e USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q84_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |       round(sum(l_extendedprice), 4) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q82_session_stats" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_type,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR date_diff('microsecond', lag(ts) OVER w, ts)
        |                 > 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, event_type,
        |         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS session_id
        |  FROM o)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       round(date_diff('microsecond', min(ts), max(ts)) / 1000000.0,
        |             3) AS duration_sec,
        |       max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |         AS converted
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q276_script_sentences" -> scriptSentencesOracle,
    "q277_script_boilerplate" -> scriptBoilerplateOracle,

    // q278: q269's merge-per-CTE encode chain, then the id lookup
    // replayed as a positioned unnest + LEFT JOIN against the same
    // VALUES vocab (absent symbol -> -1)
    "q278_bpe_token_ids" -> {
      val vocabVals = BpeVocab
        .map { case (s2, i) => s"('$s2', $i)" }.mkString(", ")
      s"""WITH mbase AS (
         |  SELECT doc_id,
         |         CAST(unnest(generate_series(1, least(len(ws), 3)))
         |           AS INTEGER) AS word_no,
         |         array_to_string(string_split(unnest(ws[1:3]), ''), ' ')
         |           AS enc
         |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |               t -> len(t) > 0) AS ws
         |        FROM documents
         |        WHERE text IS NOT NULL AND doc_id % 10 = 0)),
         |$bpeKernelOracleCtes,
         |vocab(sym, id) AS (VALUES $vocabVals),
         |tok AS (
         |  SELECT doc_id, word_no, enc,
         |         CAST(unnest(generate_series(1,
         |             len(string_split(enc, ' ')))) AS INTEGER) AS pos
         |  FROM m${BpeMergesBig.length - 1}),
         |sy AS (
         |  SELECT doc_id, word_no, pos, string_split(enc, ' ')[pos] AS sym
         |  FROM tok),
         |ids AS (
         |  SELECT sy.doc_id, sy.word_no, sy.pos, coalesce(v.id, -1) AS id
         |  FROM sy LEFT JOIN vocab v ON v.sym = sy.sym)
         |SELECT doc_id, word_no,
         |       array_to_string(array_agg(CAST(id AS VARCHAR)
         |         ORDER BY pos), ' ') AS ids_str,
         |       CAST(count(*) AS INTEGER) AS n_tokens,
         |       CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END)
         |         AS INTEGER) AS n_oov
         |FROM ids GROUP BY doc_id, word_no
         |ORDER BY doc_id, word_no""".stripMargin
    },

    // q279: the same encode chain over EVERY word of the truncated
    // text, symbol counts summed per doc, docs re-joined to their
    // source (zero-word prefixes count 0, not absent)
    "q279_bpe_token_budget" ->
      s"""WITH mbase AS (
         |  SELECT doc_id,
         |         CAST(unnest(generate_series(1, len(ws)))
         |           AS INTEGER) AS word_no,
         |         array_to_string(string_split(unnest(ws), ''), ' ')
         |           AS enc
         |  FROM (SELECT doc_id,
         |               list_filter(
         |                 string_split(lower(substr(text, 1, 60)), ' '),
         |                 t -> len(t) > 0) AS ws
         |        FROM documents WHERE text IS NOT NULL)),
         |$bpeKernelOracleCtes,
         |sums AS (
         |  SELECT doc_id,
         |         CAST(sum(len(string_split(enc, ' '))) AS BIGINT) AS n
         |  FROM m${BpeMergesBig.length - 1} GROUP BY doc_id),
         |base AS (
         |  SELECT d.source, d.doc_id, coalesce(s2.n, 0) AS n
         |  FROM documents d LEFT JOIN sums s2 USING (doc_id)
         |  WHERE d.text IS NOT NULL)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(n) AS BIGINT) AS n_bpe_tokens
         |FROM base GROUP BY source ORDER BY source""".stripMargin,

    "q280_calibration" ->
      """WITH r AS (
        |  SELECT CAST((doc_id * 7) % 129 AS DOUBLE) / 128 AS conf,
        |         CASE WHEN (doc_id * 13) % 128 < (doc_id * 7) % 129
        |              THEN 1 ELSE 0 END AS c
        |  FROM documents)
        |SELECT CAST(least(floor(conf * 10), 9) AS INTEGER) AS bin,
        |       count(*) AS n, CAST(sum(c) AS BIGINT) AS n_correct,
        |       CAST(sum(c) AS DOUBLE) / count(*) AS accuracy,
        |       sum(conf) / count(*) AS mean_confidence,
        |       abs(CAST(sum(c) AS DOUBLE) / count(*)
        |           - sum(conf) / count(*)) AS gap
        |FROM r GROUP BY 1 ORDER BY bin""".stripMargin,

    "q281_ece" ->
      """WITH r AS (
        |  SELECT CAST((doc_id * 7) % 129 AS DOUBLE) / 128 AS conf,
        |         CASE WHEN (doc_id * 13) % 128 < (doc_id * 7) % 129
        |              THEN 1 ELSE 0 END AS c
        |  FROM documents),
        |b AS (
        |  SELECT CAST(least(floor(conf * 10), 9) AS INTEGER) AS bin,
        |         count(*) AS n,
        |         abs(CAST(sum(c) AS DOUBLE) / count(*)
        |             - sum(conf) / count(*)) * count(*) AS w
        |  FROM r GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_bins,
        |       CAST(sum(n) AS BIGINT) AS n_total,
        |       list_reduce(list_transform(
        |           list_sort(list(struct_pack(b := bin, w := w))),
        |           x -> x.w), (a, b2) -> a + b2)
        |         / CAST(sum(n) AS DOUBLE) AS ece
        |FROM b""".stripMargin,

    "q282_dsir_weights" ->
      s"""WITH $dsirWeightsOracleCtes
         |SELECT doc_id, n_tokens, weight FROM wt
         |ORDER BY doc_id""".stripMargin,

    "q283_dsir_select" ->
      s"""WITH $dsirWeightsOracleCtes
         |SELECT doc_id, weight FROM wt
         |ORDER BY weight DESC, doc_id LIMIT 25""".stripMargin,

    "q284_cdx_parse" ->
      s"""WITH $cdxBaseOracleCte
         |SELECT urlkey, ts AS "timestamp", url, 'text/html' AS mime,
         |       status, digest, length, "offset", filename
         |FROM base ORDER BY urlkey""".stripMargin,

    "q285_cdx_fetch_plan" ->
      s"""WITH $cdxBaseOracleCte,
         |ded AS (
         |  SELECT * FROM (
         |    SELECT base.*, CAST(row_number() OVER (
         |        PARTITION BY digest ORDER BY ts, urlkey)
         |      AS INTEGER) AS rk
         |    FROM base) WHERE rk = 1)
         |SELECT filename,
         |       CAST(row_number() OVER (
         |           PARTITION BY filename ORDER BY "offset")
         |         AS INTEGER) AS fetch_seq,
         |       "offset", length, url, digest
         |FROM ded WHERE status = 200
         |ORDER BY filename, fetch_seq""".stripMargin,

    "q286_code_quality" ->
      """WITH syn AS (
        |  SELECT doc_id, CASE
        |    WHEN doc_id % 7 = 0 THEN
        |      '// Generated by protoc. DO NOT EDIT!' || chr(10) ||
        |      coalesce(text, '')
        |    WHEN doc_id % 7 = 1 THEN
        |      'var a=' || repeat('{x:1},', 200) || ';'
        |    WHEN doc_id % 7 = 2 THEN repeat('{}();;==->** ', 30)
        |    ELSE coalesce(text, '') END AS text
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, text, string_split(text, chr(10)) AS lines
        |  FROM syn),
        |m AS (
        |  SELECT doc_id,
        |         CAST(len(lines) AS BIGINT) AS n_lines,
        |         CAST(length(text) - (len(lines) - 1) AS BIGINT)
        |           AS chars_no_nl,
        |         CAST(list_max(list_transform(lines, x -> length(x)))
        |           AS BIGINT) AS max_line_len,
        |         CAST(length(text) - length(
        |             regexp_replace(text, '[0-9A-Za-z]', '', 'g'))
        |           AS BIGINT) AS alnum,
        |         CAST(length(text) AS BIGINT) AS n_chars,
        |         lower(array_to_string(lines[1:5], chr(10))) AS head
        |  FROM st),
        |r AS (
        |  SELECT doc_id, n_lines, max_line_len,
        |         CAST(chars_no_nl AS DOUBLE) / n_lines AS avg_line_len,
        |         CASE WHEN n_chars > 0
        |              THEN CAST(alnum AS DOUBLE) / n_chars
        |              ELSE 0.0 END AS alnum_frac,
        |         CAST(CASE WHEN head LIKE '%generated by%'
        |                   OR head LIKE '%auto-generated%'
        |                   OR head LIKE '%autogenerated%'
        |                   OR head LIKE '%do not edit%'
        |              THEN 1 ELSE 0 END AS BIGINT) AS autogen
        |  FROM m)
        |SELECT doc_id, n_lines, max_line_len, avg_line_len, alnum_frac,
        |       autogen,
        |       CAST(CASE WHEN avg_line_len <= 100 AND max_line_len <= 1000
        |                 AND alnum_frac >= 0.25 AND autogen = 0
        |            THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM r ORDER BY doc_id""".stripMargin,

    "q287_loss_trajectories" ->
      s"""WITH $lossOracleCtes
         |SELECT doc_id, n_steps, first_milli, last_milli, slope_milli,
         |       verdict
         |FROM traj ORDER BY doc_id""".stripMargin,

    "q288_loss_rollup" ->
      s"""WITH $lossOracleCtes
         |SELECT d.source, t.verdict,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(t.last_milli) AS DOUBLE) / count(*)
         |         AS mean_last_milli
         |FROM traj t JOIN documents d USING (doc_id)
         |GROUP BY 1, 2 ORDER BY d.source, t.verdict""".stripMargin,

    "q289_markdown_stats" ->
      s"""WITH $mdOracleCte,
         |m AS (
         |  SELECT doc_id, text, string_split(text, chr(10)) AS lines
         |  FROM syn),
         |r AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(lines,
         |             x -> regexp_matches(x, '^#{1,6} ')))
         |           AS BIGINT) AS n_headers,
         |         CAST((len(string_split(text, '```')) - 1) // 2
         |           AS BIGINT) AS n_fences,
         |         CAST(len(regexp_extract_all(text,
         |             '\\[[^\\]]*\\]\\([^)]*\\)'))
         |           AS BIGINT) AS n_links,
         |         CAST(len(list_filter(lines,
         |             x -> regexp_matches(x, '^[-*] ')))
         |           AS BIGINT) AS n_bullets
         |  FROM m)
         |SELECT doc_id, n_headers, n_fences, n_links, n_bullets,
         |       CAST(CASE WHEN n_headers + n_fences * 2 + n_links
         |                      + n_bullets >= 3
         |            THEN 1 ELSE 0 END AS BIGINT) AS is_markdown
         |FROM r ORDER BY doc_id""".stripMargin,

    "q290_fenced_blocks" ->
      s"""WITH $mdOracleCte,
         |e AS (
         |  SELECT doc_id,
         |         regexp_extract_all(text,
         |           '(?s)```([A-Za-z0-9+#-]*)\\n(.*?)```', 1) AS langs,
         |         regexp_extract_all(text,
         |           '(?s)```([A-Za-z0-9+#-]*)\\n(.*?)```', 2) AS bodies
         |  FROM syn),
         |x AS (
         |  SELECT doc_id,
         |         unnest(generate_series(1, len(langs))) AS i,
         |         langs, bodies
         |  FROM e WHERE len(langs) > 0)
         |SELECT doc_id, CAST(i - 1 AS INTEGER) AS blk_no,
         |       langs[i] AS lang, bodies[i] AS body
         |FROM x ORDER BY doc_id, blk_no""".stripMargin,

    "q291_canary_manifest" ->
      s"""WITH $canarySpecCte,
         |tr AS (
         |  SELECT c.canary_id, CAST(count(*) AS BIGINT) AS n
         |  FROM documents d, spec c
         |  WHERE ('0x' || substr(md5(d.doc_id || ':' || c.canary_id),
         |          1, 8))::BIGINT % c.m = 0
         |  GROUP BY 1)
         |SELECT canary_id, n AS n_docs, n AS n_occurrences
         |FROM tr ORDER BY canary_id""".stripMargin,

    "q292_canary_exposure" ->
      s"""WITH $canarySpecCte,
         |tr AS (
         |  SELECT c.canary_id, CAST(count(*) AS BIGINT) AS n_train
         |  FROM documents d, spec c
         |  WHERE ('0x' || substr(md5(d.doc_id || ':' || c.canary_id),
         |          1, 8))::BIGINT % c.m = 0
         |  GROUP BY 1),
         |gen AS (
         |  SELECT CASE WHEN doc_id % 20 = 0 THEN 'c2' ELSE 'c10' END
         |           AS cid,
         |         CASE WHEN doc_id % 20 = 0 THEN 2 ELSE 1 END AS occ
         |  FROM documents WHERE doc_id % 20 <= 1),
         |ga AS (
         |  SELECT cid, CAST(count(*) AS BIGINT) AS n_gen,
         |         CAST(sum(occ) AS BIGINT) AS n_occ
         |  FROM gen GROUP BY 1)
         |SELECT t.canary_id, t.n_train AS n_train_docs,
         |       coalesce(g.n_gen, 0) AS n_gen_docs,
         |       coalesce(g.n_occ, 0) AS n_gen_occurrences,
         |       CAST(coalesce(g.n_gen, 0) AS DOUBLE) / t.n_train
         |         AS leak_rate,
         |       CAST(CASE WHEN coalesce(g.n_gen, 0) > 0
         |            THEN 1 ELSE 0 END AS BIGINT) AS leaked
         |FROM tr t LEFT JOIN ga g ON t.canary_id = g.cid
         |ORDER BY t.canary_id""".stripMargin,

    "q293_pack_manifest" ->
      s"""WITH RECURSIVE $greedyWalkOracleCtes,
         |pk AS (
         |  SELECT shard, pack,
         |         CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |         list(n_tokens ORDER BY pos) AS ts,
         |         CAST(max(CASE WHEN n_tokens > 512 THEN 1 ELSE 0 END)
         |           AS INTEGER) AS truncated
         |  FROM walk GROUP BY 1, 2)
         |SELECT shard, pack AS pack_id, n_docs, n_tokens,
         |       array_to_string(list_transform(
         |           generate_series(1, len(ts)),
         |           i -> CAST(CAST(list_sum(ts[1:i]) AS BIGINT)
         |                AS VARCHAR)), ',') AS boundaries,
         |       CAST(n_tokens AS DOUBLE) / 512 AS fill_fraction,
         |       truncated
         |FROM pk ORDER BY shard, pack_id""".stripMargin,

    // q294: byte-level pre-tokens rebuilt from the corpus's
    // single-space shape (case preserved, word k>1 takes its leading
    // Ġ — the gpt2 regex's value on single-spaced text with no
    // punctuation/digits), then the identical merge-per-CTE fold over
    // the BYTE-LEVEL table
    "q294_bpe_byte_encode" ->
      s"""WITH mbase AS (
         |  SELECT doc_id, word_no,
         |         array_to_string(string_split(
         |           CASE WHEN word_no = 1 THEN ws[1]
         |                ELSE 'Ġ' || ws[word_no] END, ''), ' ') AS enc
         |  FROM (SELECT doc_id, ws,
         |               CAST(unnest(generate_series(1, least(len(ws), 3)))
         |                 AS INTEGER) AS word_no
         |        FROM (SELECT doc_id,
         |                     list_filter(string_split(text, ' '),
         |                       t2 -> len(t2) > 0) AS ws
         |              FROM documents
         |              WHERE text IS NOT NULL AND doc_id % 10 = 0))),
         |${bpeMergeCtes(BpeMergesByte)}
         |SELECT doc_id, word_no, enc AS encoded,
         |       CAST(len(string_split(enc, ' ')) AS INTEGER) AS n_subwords
         |FROM m${BpeMergesByte.length - 1}
         |ORDER BY doc_id, word_no""".stripMargin,

    // q295: q294's byte-level encode chain, then the id lookup
    // replayed as a positioned unnest + LEFT JOIN over the same
    // Ġ-alphabet VALUES vocab (absent symbol — incl. the deliberately
    // missing 'q' — maps to -1)
    "q295_bpe_byte_ids" -> {
      val vocabVals = BpeVocabByte
        .map { case (s2, i) => s"('$s2', $i)" }.mkString(", ")
      s"""WITH mbase AS (
         |  SELECT doc_id, word_no,
         |         array_to_string(string_split(
         |           CASE WHEN word_no = 1 THEN ws[1]
         |                ELSE 'Ġ' || ws[word_no] END, ''), ' ') AS enc
         |  FROM (SELECT doc_id, ws,
         |               CAST(unnest(generate_series(1, least(len(ws), 3)))
         |                 AS INTEGER) AS word_no
         |        FROM (SELECT doc_id,
         |                     list_filter(string_split(text, ' '),
         |                       t2 -> len(t2) > 0) AS ws
         |              FROM documents
         |              WHERE text IS NOT NULL AND doc_id % 10 = 0))),
         |${bpeMergeCtes(BpeMergesByte)},
         |vocab(sym, id) AS (VALUES $vocabVals),
         |tok AS (
         |  SELECT doc_id, word_no, enc,
         |         CAST(unnest(generate_series(1,
         |             len(string_split(enc, ' ')))) AS INTEGER) AS pos
         |  FROM m${BpeMergesByte.length - 1}),
         |sy AS (
         |  SELECT doc_id, word_no, pos, string_split(enc, ' ')[pos] AS sym
         |  FROM tok),
         |ids AS (
         |  SELECT sy.doc_id, sy.word_no, sy.pos, coalesce(v.id, -1) AS id
         |  FROM sy LEFT JOIN vocab v ON v.sym = sy.sym)
         |SELECT doc_id, word_no,
         |       array_to_string(array_agg(CAST(id AS VARCHAR)
         |         ORDER BY pos), ' ') AS ids_str,
         |       CAST(count(*) AS INTEGER) AS n_tokens,
         |       CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END)
         |         AS INTEGER) AS n_oov
         |FROM ids GROUP BY doc_id, word_no
         |ORDER BY doc_id, word_no""".stripMargin
    },

    // q296: the profile table regenerated from the SAME constant, the
    // length-delta occurrence count, (score DESC, profile rank) argmax
    "q296_lang_id_multi" ->
      s"""WITH $langIdOracleCtes
         |SELECT doc_id, lang, score FROM routed
         |ORDER BY doc_id""".stripMargin,

    // q297: q296's routing composed into the q221 temperature replay
    // (sqrt share chain, stratum-sorted fold denominator, ppm floor)
    "q297_lang_temperature" ->
      s"""WITH $langIdOracleCtes,
         |c AS (SELECT lang AS stratum, count(*) AS n FROM routed
         |      GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS n_total FROM c),
         |w AS (SELECT stratum, n, sqrt(n / n_total) AS w
         |      FROM c CROSS JOIN tot),
         |den AS (
         |  SELECT list_reduce(list_transform(
         |           list_sort(list(struct_pack(s := stratum, w := w))),
         |           x -> x.w), (a, b) -> a + b) AS denom
         |  FROM w),
         |r AS (
         |  SELECT stratum, n,
         |         CAST(floor(least(1.0, (w / denom) * 300.0 / n)
         |           * 1000000) AS BIGINT) AS rate_ppm
         |  FROM w CROSS JOIN den)
         |SELECT stratum, n, rate_ppm FROM r
         |ORDER BY stratum""".stripMargin,

    // q298: byte-level tokenization is lossless, so the decoded text
    // IS the source's first 3 words rejoined — derived directly from
    // documents, independent of every encode/decode stage under test
    "q298_bpe_byte_roundtrip" ->
      """SELECT doc_id,
        |       array_to_string(
        |         list_filter(string_split(text, ' '),
        |                     t2 -> len(t2) > 0)[1:3], ' ') AS decoded
        |FROM documents
        |WHERE text IS NOT NULL AND doc_id % 10 = 0
        |ORDER BY doc_id""".stripMargin,

    // q345: metaspace tokenization is lossless too — the decoded text
    // IS the source's first 3 words rejoined, derived directly from
    // documents, independent of every ▁-stage under test
    "q345_metaspace_roundtrip" ->
      """SELECT doc_id,
        |       array_to_string(
        |         list_filter(string_split(text, ' '),
        |                     t2 -> len(t2) > 0)[1:3], ' ') AS decoded
        |FROM documents
        |WHERE text IS NOT NULL AND doc_id % 10 = 4
        |ORDER BY doc_id""".stripMargin,

    // q299: the q197 trainer rounds over the BYTE-FORM pre-token
    // word table (first word bare, later words Ġ-prefixed — the
    // corpus's single-space shape; len > 1 in byte form)
    "q299_bpe_byte_train" ->
      s"""WITH w0 AS (
         |  SELECT w, count(*) AS n FROM (
         |    SELECT CASE WHEN word_no = 1 THEN ws[1]
         |                ELSE 'Ġ' || ws[word_no] END AS w
         |    FROM (SELECT ws,
         |                 CAST(unnest(generate_series(1, len(ws)))
         |                   AS INTEGER) AS word_no
         |          FROM (SELECT list_filter(string_split(text, ' '),
         |                         t2 -> len(t2) > 0) AS ws
         |                FROM documents WHERE text IS NOT NULL)))
         |  WHERE len(w) > 1 GROUP BY w),
         |s0 AS (
         |  SELECT array_to_string(string_split(w, ''), ' ') AS s, n
         |  FROM w0),
         |${bpeTrainRoundCte(1)},
         |${bpeTrainRoundCte(2)},
         |${bpeTrainRoundCte(3)}
         |SELECT CAST(1 AS INTEGER) AS merge_rank, lhs, rhs, cnt AS n_pairs
         |FROM m1
         |UNION ALL
         |SELECT CAST(2 AS INTEGER), lhs, rhs, cnt FROM m2
         |UNION ALL
         |SELECT CAST(3 AS INTEGER), lhs, rhs, cnt FROM m3
         |ORDER BY merge_rank""".stripMargin,

    // q339: the q235 DP prelude, the final-position piece counts,
    // the per-word fallback to len(word), one per-doc sum
    "q339_unigram_budget" ->
      s"""WITH $unigramDpCtesForStd,
         |segn AS (
         |  SELECT a.word, a.np FROM a12 a
         |  JOIN (SELECT word, len(word) AS wl FROM w) lw
         |    ON a.word = lw.word AND a.i = lw.wl),
         |dtok AS (
         |  SELECT doc_id, t AS word FROM (
         |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
         |    FROM documents WHERE text IS NOT NULL)
         |  WHERE len(t) > 0),
         |wtok AS (
         |  SELECT w0.word, coalesce(segn.np, len(w0.word)) AS wt
         |  FROM w0 LEFT JOIN segn ON segn.word = w0.word)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(wt) AS BIGINT) AS n_tokens
         |FROM dtok JOIN wtok ON wtok.word = dtok.word
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q337: q335's plane literals over the perturbed eval side; hits
    // (bucket-restricted) vs brute (unrestricted) at the same
    // threshold; recall as the one unrounded quotient
    "q337_sem_decon_recall" -> {
      val planes = 6; val dim = 64
      def planeDot(vec: String, p: Int): String =
        (0 until dim).map(i => s"$vec[${i + 1}] * " +
          java.lang.Double.toString(Similarity.planeComponent(p, i)))
          .mkString(" + ")
      def bucketExpr(vec: String): String =
        (0 until planes).map(p =>
          s"CASE WHEN ${planeDot(vec, p)} >= 0 THEN ${1L << p} ELSE 0 END")
          .mkString("\n       + ")
      def chain(a: String, b: String): String =
        (0 until dim).map(i => s"$a[${i + 1}] * $b[${i + 1}]")
          .mkString(" + ")
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings),
         |ev0 AS (
         |  SELECT list_transform(e, (x, i) ->
         |           x + CASE WHEN i <= 8 THEN 0.04 ELSE 0 END) AS ee
         |  FROM v WHERE vec_id % 10 = 3),
         |tr AS (
         |  SELECT vec_id, e,
         |       ${bucketExpr("e")} AS bucket,
         |       sqrt(${chain("e", "e")}) AS nrm
         |  FROM v),
         |evk AS (
         |  SELECT ee,
         |       ${bucketExpr("ee")} AS bucket,
         |       sqrt(${chain("ee", "ee")}) AS enrm
         |  FROM ev0),
         |hits AS (
         |  SELECT DISTINCT tr.vec_id
         |  FROM tr JOIN evk USING (bucket)
         |  WHERE tr.nrm * evk.enrm > 0
         |    AND (${chain("tr.e", "evk.ee")}) / (tr.nrm * evk.enrm)
         |        >= 0.9),
         |brute AS (
         |  SELECT DISTINCT tr.vec_id
         |  FROM tr, evk
         |  WHERE tr.nrm * evk.enrm > 0
         |    AND (${chain("tr.e", "evk.ee")}) / (tr.nrm * evk.enrm)
         |        >= 0.9)
         |SELECT CAST((SELECT count(*) FROM brute) AS BIGINT) AS n_brute,
         |       CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_found,
         |       (SELECT count(*) FROM hits) /
         |         CAST((SELECT count(*) FROM brute) AS DOUBLE) AS recall""".stripMargin
    },

    // q338: q337's replay with the eval bucket exploded over the
    // 7-probe list (identity + one flip per plane)
    "q338_sem_decon_multiprobe" -> {
      val planes = 6; val dim = 64
      def planeDot(vec: String, p: Int): String =
        (0 until dim).map(i => s"$vec[${i + 1}] * " +
          java.lang.Double.toString(Similarity.planeComponent(p, i)))
          .mkString(" + ")
      def bucketExpr(vec: String): String =
        (0 until planes).map(p =>
          s"CASE WHEN ${planeDot(vec, p)} >= 0 THEN ${1L << p} ELSE 0 END")
          .mkString("\n       + ")
      def chain(a: String, b: String): String =
        (0 until dim).map(i => s"$a[${i + 1}] * $b[${i + 1}]")
          .mkString(" + ")
      val flips = (Seq(0L) ++ (0 until planes).map(p => 1L << p))
        .mkString(", ")
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings),
         |ev0 AS (
         |  SELECT list_transform(e, (x, i) ->
         |           x + CASE WHEN i <= 8 THEN 0.04 ELSE 0 END) AS ee
         |  FROM v WHERE vec_id % 10 = 3),
         |tr AS (
         |  SELECT vec_id, e,
         |       ${bucketExpr("e")} AS bucket,
         |       sqrt(${chain("e", "e")}) AS nrm
         |  FROM v),
         |evk AS (
         |  SELECT ee, xor(b0, f.flip) AS bucket, enrm FROM (
         |    SELECT ee,
         |         ${bucketExpr("ee")} AS b0,
         |         sqrt(${chain("ee", "ee")}) AS enrm
         |    FROM ev0) CROSS JOIN (
         |    SELECT unnest([$flips]) AS flip) f),
         |hits AS (
         |  SELECT DISTINCT tr.vec_id
         |  FROM tr JOIN evk USING (bucket)
         |  WHERE tr.nrm * evk.enrm > 0
         |    AND (${chain("tr.e", "evk.ee")}) / (tr.nrm * evk.enrm)
         |        >= 0.9),
         |brute AS (
         |  SELECT DISTINCT tr.vec_id
         |  FROM tr, (SELECT DISTINCT ee, enrm FROM evk) evk
         |  WHERE tr.nrm * evk.enrm > 0
         |    AND (${chain("tr.e", "evk.ee")}) / (tr.nrm * evk.enrm)
         |        >= 0.9)
         |SELECT CAST((SELECT count(*) FROM brute) AS BIGINT) AS n_brute,
         |       CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_found,
         |       (SELECT count(*) FROM hits) /
         |         CAST((SELECT count(*) FROM brute) AS DOUBLE) AS recall""".stripMargin
    },

    // q336: the q235 seed prelude + TWO full DP chains with the
    // EM recount / protected-singles prune / snapped re-estimate
    // between and after them
    "q336_unigram_train" -> {
      val target = 60
      def emPrune(sfx: String, prevV: String, outV: String): String =
        s"""segf$outV AS (
           |  SELECT a.word, a.segs FROM a12$sfx a
           |  JOIN (SELECT word, len(word) AS wl FROM w$sfx) lw
           |    ON a.word = lw.word AND a.i = lw.wl),
           |pc$outV AS (
           |  SELECT piece, CAST(sum(freq) AS BIGINT) AS n FROM (
           |    SELECT unnest(string_split(s.segs, '|')) AS piece,
           |           wf.freq
           |    FROM segf$outV s JOIN wf ON wf.word = s.word)
           |  GROUP BY 1),
           |wn$outV AS (
           |  SELECT pv.piece, coalesce(pc.n, 0) AS n
           |  FROM $prevV pv
           |  LEFT JOIN pc$outV pc ON pc.piece = pv.piece),
           |ns$outV AS (SELECT count(*) AS c FROM wn$outV
           |            WHERE len(piece) = 1),
           |pr$outV AS (
           |  SELECT piece, n FROM wn$outV WHERE len(piece) = 1
           |  UNION ALL
           |  SELECT piece, n FROM (
           |    SELECT piece, n,
           |           row_number() OVER (ORDER BY n DESC, piece) AS rk
           |    FROM wn$outV WHERE len(piece) > 1)
           |  WHERE rk <= $target - (SELECT c FROM ns$outV)),
           |tt$outV AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
           |                   CAST(count(*) AS BIGINT) AS k
           |            FROM pr$outV),
           |$outV AS MATERIALIZED (
           |  SELECT piece, n,
           |    floor(ln((n + 1) / CAST(tn + k AS DOUBLE))
           |          * 1048576 + 0.5) / 1048576 AS lnp
           |  FROM pr$outV CROSS JOIN tt$outV)""".stripMargin
      s"""WITH tok AS MATERIALIZED (
         |  SELECT t FROM (
         |    SELECT unnest(string_split(lower(text), ' ')) AS t
         |    FROM documents WHERE text IS NOT NULL)
         |  WHERE len(t) > 0),
         |wf AS (SELECT t AS word, count(*) AS freq FROM tok GROUP BY 1),
         |$unigramSeedVocabCtes,
         |${unigramDpChain("", "v")},
         |${emPrune("", "v", "v1")},
         |${unigramDpChain("_2", "v1")},
         |${emPrune("_2", "v1", "v2")}
         |SELECT piece, n, lnp FROM v2 ORDER BY piece""".stripMargin
    },

    // q335: the 6-plane bucket expression and 64-term chains in the
    // kernel's sequential order (the q28/q126 conventions); bucket
    // join train x eval, zero-norm guard, division-then-compare,
    // NOT IN drop
    "q335_semantic_decon" -> {
      val planes = 6; val dim = 64
      def planeDot(vec: String, p: Int): String =
        (0 until dim).map(i => s"$vec[${i + 1}] * " +
          java.lang.Double.toString(Similarity.planeComponent(p, i)))
          .mkString(" + ")
      def bucketExpr(vec: String): String =
        (0 until planes).map(p =>
          s"CASE WHEN ${planeDot(vec, p)} >= 0 THEN ${1L << p} ELSE 0 END")
          .mkString("\n       + ")
      def chain(a: String, b: String): String =
        (0 until dim).map(i => s"$a[${i + 1}] * $b[${i + 1}]")
          .mkString(" + ")
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings),
         |tr AS (
         |  SELECT vec_id, e,
         |       ${bucketExpr("e")} AS bucket,
         |       sqrt(${chain("e", "e")}) AS nrm
         |  FROM v),
         |ev AS (
         |  SELECT e AS ee,
         |       ${bucketExpr("e")} AS bucket,
         |       sqrt(${chain("e", "e")}) AS enrm
         |  FROM v WHERE vec_id % 10 = 3),
         |hits AS (
         |  SELECT DISTINCT tr.vec_id
         |  FROM tr JOIN ev USING (bucket)
         |  WHERE tr.nrm * ev.enrm > 0
         |    AND (${chain("tr.e", "ev.ee")}) / (tr.nrm * ev.enrm) >= 0.9)
         |SELECT vec_id FROM tr
         |WHERE vec_id NOT IN (SELECT vec_id FROM hits)
         |ORDER BY vec_id""".stripMargin
    },

    // q334: the add-one bigram LM recounted from the even half, the
    // odd half's pairs left-joined, the identical snapped-ln fold
    "q334_lm_perplexity" ->
      """WITH ref AS (
        |  SELECT list_filter(string_split(lower(text), ' '),
        |           t2 -> len(t2) > 0) AS ws
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0),
        |uni AS (
        |  SELECT w, count(*) AS c1 FROM (
        |    SELECT unnest(ws) AS w FROM ref) GROUP BY 1),
        |bi AS (
        |  SELECT w1, w2, count(*) AS c12 FROM (
        |    SELECT ws[i] AS w1, ws[i + 1] AS w2
        |    FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
        |          FROM ref WHERE len(ws) > 1))
        |  GROUP BY 1, 2),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
        |tgt AS (
        |  SELECT doc_id, ws FROM (
        |    SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |             t2 -> len(t2) > 0) AS ws
        |    FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1)
        |  WHERE len(ws) > 1),
        |pairs AS (
        |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        |  FROM (SELECT doc_id, ws,
        |               unnest(generate_series(1, len(ws) - 1)) AS i
        |        FROM tgt)),
        |lnp AS (
        |  SELECT p.doc_id,
        |         floor(ln((coalesce(b.c12, 0) + 1) /
        |                  (coalesce(u.c1, 0) + v.v))
        |               * 1048576 + 0.5) / 1048576 AS lnp
        |  FROM pairs p
        |  LEFT JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
        |  LEFT JOIN uni u ON u.w = p.w1
        |  CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       -sum(lnp) / count(*) AS nll
        |FROM lnp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q333: the q299 trainer rounds over the ▁-FORM pre-token word
    // table (every word ▁-prefixed — the metaspace shape on this
    // single-spaced corpus)
    "q333_metaspace_train" ->
      s"""WITH w0 AS (
         |  SELECT w, count(*) AS n FROM (
         |    SELECT '▁' || t AS w
         |    FROM (SELECT unnest(list_filter(string_split(text, ' '),
         |                   t2 -> len(t2) > 0)) AS t
         |          FROM documents WHERE text IS NOT NULL))
         |  WHERE len(w) > 1 GROUP BY w),
         |s0 AS (
         |  SELECT array_to_string(string_split(w, ''), ' ') AS s, n
         |  FROM w0),
         |${bpeTrainRoundCte(1)},
         |${bpeTrainRoundCte(2)},
         |${bpeTrainRoundCte(3)}
         |SELECT CAST(1 AS INTEGER) AS merge_rank, lhs, rhs, cnt AS n_pairs
         |FROM m1
         |UNION ALL
         |SELECT CAST(2 AS INTEGER), lhs, rhs, cnt FROM m2
         |UNION ALL
         |SELECT CAST(3 AS INTEGER), lhs, rhs, cnt FROM m3
         |ORDER BY merge_rank""".stripMargin,

    // q300: greedy longest-match WordPiece replayed as a recursive CTE
    // whose match CASE is generated from the same vocab constant
    "q300_wordpiece_encode" ->
      s"""WITH RECURSIVE $wordpieceOracleCtes
         |SELECT doc_id, word_no, word, encoded,
         |  CAST(len(string_split(encoded, ' ')) AS INTEGER) AS n_pieces
         |FROM enc ORDER BY doc_id, word_no""".stripMargin,

    // q342: the oracle never sees the damage — it replays q300's
    // greedy WordPiece fold over the CLEAN corpus subset; the Spark
    // side's damaged text matches ONLY if the shipped BertNormalizer
    // declaration expanded and composed (clean_text dropping the BEL,
    // StripAccents folding á→a, Lowercase folding B→b)
    "q342_bert_normalizer" ->
      s"""WITH RECURSIVE ${
        wordpieceOracleCtesWhere(" AND doc_id % 10 = 2")}
         |SELECT doc_id, word_no, encoded,
         |  CAST(len(string_split(encoded, ' ')) AS INTEGER) AS n_pieces
         |FROM enc ORDER BY doc_id, word_no""".stripMargin,

    // q343: the oracle splices the two specials at their closed-form
    // positions (pos 1 = '<|doc|>'; pos 3 = '<|sep|>' iff the damage
    // regex fired, i.e. the text opens 'word '), surrounds them with
    // the CLEAN q269 char-split seeds, and runs the shared merge fold
    // — a special is a single symbol with no interior spaces, so
    // every merge CTE leaves it untouched (inert by construction).
    // Equality holds only if the Spark side extracted the declared
    // added_tokens (the glued '<|sep|>' is unreachable by whitespace
    // splitting alone)
    "q343_added_tokens" ->
      s"""WITH src AS (
         |  SELECT doc_id,
         |    list_filter(string_split(lower(text), ' '),
         |      t2 -> len(t2) > 0) AS ws,
         |    regexp_matches(text, '^\\S+ ') AS has_sep
         |  FROM documents
         |  WHERE text IS NOT NULL AND doc_id % 10 = 3),
         |mbase AS (
         |  SELECT doc_id, word_no,
         |    CASE
         |      WHEN word_no = 1 THEN '<|doc|>'
         |      WHEN word_no = 3 AND has_sep THEN '<|sep|>'
         |      ELSE array_to_string(string_split(
         |        ws[CASE WHEN word_no = 2 THEN 1
         |                WHEN word_no = 3 THEN 2
         |                WHEN has_sep THEN 2
         |                ELSE 3 END], ''), ' ')
         |    END AS enc
         |  FROM (SELECT doc_id, ws, has_sep,
         |          CAST(unnest(generate_series(1, least(1 + len(ws) +
         |            CASE WHEN has_sep THEN 1 ELSE 0 END, 4)))
         |            AS INTEGER) AS word_no
         |        FROM src)),
         |$bpeKernelOracleCtes
         |SELECT doc_id, word_no, enc AS encoded,
         |  CAST(len(string_split(enc, ' ')) AS INTEGER) AS n_subwords
         |FROM m${BpeMergesBig.length - 1}
         |ORDER BY doc_id, word_no""".stripMargin,

    // q301: the q300 pieces joined to the generated (piece, id) table
    // — WordPiece's encode vocab IS its id vocab
    "q301_wordpiece_ids" ->
      s"""WITH RECURSIVE $wordpieceOracleCtes,
         |wpv(piece, id) AS (VALUES ${
        WpVocab.map { case (tok, i) => s"('$tok', $i)" }.mkString(", ")}),
         |pcs AS (
         |  SELECT doc_id, word_no, ps,
         |    CAST(unnest(generate_series(1, len(ps))) AS INTEGER) AS j
         |  FROM (SELECT doc_id, word_no, string_split(encoded, ' ') AS ps
         |        FROM enc)),
         |wid AS (
         |  SELECT p.doc_id, p.word_no, p.j, v.id
         |  FROM (SELECT doc_id, word_no, j, ps[j] AS piece FROM pcs) p
         |  JOIN wpv v ON v.piece = p.piece)
         |SELECT doc_id, word_no,
         |  string_agg(CAST(id AS VARCHAR), ' ' ORDER BY j) AS ids_str,
         |  CAST(count(*) AS INTEGER) AS n_tokens
         |FROM wid GROUP BY 1, 2 ORDER BY doc_id, word_no""".stripMargin,

    // q348: decode is faithful at the word level — a covered word's
    // pieces concatenate back to the word; an unk collapse stays
    // [UNK]. Derived from the q300 fold's verdict, not the decoder
    "q348_wordpiece_decode" ->
      s"""WITH RECURSIVE ${
        wordpieceOracleCtesWhere(" AND doc_id % 10 = 7")}
         |SELECT doc_id, word_no,
         |  CASE WHEN encoded = '[UNK]' THEN '[UNK]' ELSE word END
         |    AS decoded
         |FROM enc ORDER BY doc_id, word_no""".stripMargin,

    // q302: clipped n-gram counts + modified precisions per (pair, n)
    // — the exploded relational replay of the one-pass kernel
    "q302_bleu_ngrams" ->
      s"""WITH $bleuOracleCtes
         |SELECT id AS pair_id, n, o AS clip_matches, ref_total,
         |  hyp_total,
         |  CASE WHEN hyp_total > 0
         |       THEN CAST(o AS DOUBLE) / CAST(hyp_total AS DOUBLE)
         |  END AS p_n
         |FROM lv ORDER BY pair_id, n""".stripMargin,

    // q303: matches/totals summed across pairs BEFORE the divisions,
    // fixed-association product under the sqrt chain, log brevity
    // penalty — every emitted double is one exact-integer division,
    // an IEEE product, or a sqrt (all bit-portable; exp never emitted)
    "q303_corpus_bleu" ->
      s"""WITH $bleuOracleCtes,
         |sums AS (
         |  SELECT
         |    CAST(sum(CASE WHEN n = 1 THEN ref_total END) AS BIGINT)
         |      AS ref_len,
         |    CAST(sum(CASE WHEN n = 1 THEN hyp_total END) AS BIGINT)
         |      AS hyp_len,
         |    CAST(sum(CASE WHEN n = 1 THEN o END) AS BIGINT) AS o_1,
         |    CAST(sum(CASE WHEN n = 1 THEN hyp_total END) AS BIGINT)
         |      AS h_1,
         |    CAST(sum(CASE WHEN n = 2 THEN o END) AS BIGINT) AS o_2,
         |    CAST(sum(CASE WHEN n = 2 THEN hyp_total END) AS BIGINT)
         |      AS h_2,
         |    CAST(sum(CASE WHEN n = 3 THEN o END) AS BIGINT) AS o_3,
         |    CAST(sum(CASE WHEN n = 3 THEN hyp_total END) AS BIGINT)
         |      AS h_3,
         |    CAST(sum(CASE WHEN n = 4 THEN o END) AS BIGINT) AS o_4,
         |    CAST(sum(CASE WHEN n = 4 THEN hyp_total END) AS BIGINT)
         |      AS h_4
         |  FROM lv),
         |pp AS (
         |  SELECT *,
         |    CASE WHEN h_1 > 0
         |      THEN CAST(o_1 AS DOUBLE) / CAST(h_1 AS DOUBLE) END AS p_1,
         |    CASE WHEN h_2 > 0
         |      THEN CAST(o_2 AS DOUBLE) / CAST(h_2 AS DOUBLE) END AS p_2,
         |    CASE WHEN h_3 > 0
         |      THEN CAST(o_3 AS DOUBLE) / CAST(h_3 AS DOUBLE) END AS p_3,
         |    CASE WHEN h_4 > 0
         |      THEN CAST(o_4 AS DOUBLE) / CAST(h_4 AS DOUBLE) END AS p_4
         |  FROM sums)
         |SELECT ref_len, hyp_len, o_1, h_1, o_2, h_2, o_3, h_3, o_4,
         |  h_4, p_1, p_2, p_3, p_4,
         |  CASE WHEN o_1 = 0 OR o_2 = 0 OR o_3 = 0 OR o_4 = 0 THEN 0.0
         |       ELSE sqrt(sqrt(((p_1 * p_2) * p_3) * p_4)) END
         |    AS geo_mean,
         |  CASE WHEN hyp_len > 0 THEN least(0.0,
         |    1.0 - CAST(ref_len AS DOUBLE) / CAST(hyp_len AS DOUBLE))
         |  END AS bp_log
         |FROM pp""".stripMargin,

    // q305: DuckDB's nfc_normalize replays the JDK's NFC bit-for-bit
    // (shared Unicode canonical-composition tables)
    "q305_unicode_nfc" ->
      s"""WITH syn AS (
         |  SELECT doc_id, $nfcFixtureSql AS raw
         |  FROM documents WHERE text IS NOT NULL),
         |nf AS (
         |  SELECT doc_id, raw, nfc_normalize(raw) AS nfc_text FROM syn)
         |SELECT doc_id, nfc_text,
         |  CAST(strlen(nfc_text) AS INTEGER) AS n_bytes,
         |  raw <> nfc_text AS changed, md5(nfc_text) AS digest
         |FROM nf ORDER BY doc_id""".stripMargin,

    // q304: covariance replayed relationally — per-dim unnest, pair
    // join on vec_id, double products, Σxy/n − mean products in the
    // same fixed order
    "q304_embedding_covariance" ->
      """WITH e AS (
        |  SELECT vec_id, unnest(embedding) AS x,
        |    CAST(generate_subscripts(embedding, 1) AS INTEGER) - 1 AS i
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |pairs AS (
        |  SELECT a.i AS i, b.i AS j,
        |    CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE) AS xy
        |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i),
        |ag AS (
        |  SELECT i, j, sum(xy) AS pxy, CAST(count(*) AS BIGINT) AS n
        |  FROM pairs GROUP BY 1, 2),
        |mn AS (SELECT i, sum(CAST(x AS DOUBLE)) AS sx FROM e GROUP BY 1)
        |SELECT a.i AS i, a.j AS j, a.n AS n,
        |  round(a.pxy / a.n - (ma.sx / a.n) * (mb.sx / a.n), 6) + 0.0
        |    AS cov6
        |FROM ag a JOIN mn ma ON ma.i = a.i JOIN mn mb ON mb.i = a.j
        |ORDER BY a.i, a.j""".stripMargin,

    // q306: the bit interleave replayed as a generated shift/mask
    // expression — one term per (dimension, bit), same math
    "q306_zorder_key" -> {
      val terms = for {
        (c, j) <- Seq("da", "db").zipWithIndex
        i <- 0 until 16
      } yield s"((($c >> $i) & 1) << ${i * 2 + j})"
      s"""WITH q AS (
         |  SELECT doc_id,
         |    ((doc_id % 65536) * 40503) % 65536 AS da,
         |    (doc_id // 7) % 65536 AS db
         |  FROM documents)
         |SELECT doc_id, da, db,
         |  CAST(${terms.mkString(" | ")} AS BIGINT) AS zkey
         |FROM q ORDER BY doc_id""".stripMargin
    },

    // q307: blocks via the same (?s) lazy-quantified RE2 pattern,
    // loc/lastmod per block, kind by marker tag
    "q307_sitemap_entries" ->
      s"""WITH syn AS (
         |  SELECT doc_id, $sitemapXmlSql AS xml FROM documents),
         |bl AS (
         |  SELECT doc_id,
         |    CASE WHEN contains(xml, '<sitemapindex') THEN 'index'
         |         WHEN contains(xml, '<urlset') THEN 'urlset'
         |         ELSE 'unknown' END AS kind,
         |    regexp_extract_all(xml,
         |      '(?s)<(?:url|sitemap)>(.*?)</(?:url|sitemap)>', 1) AS bs
         |  FROM syn),
         |ex AS (
         |  SELECT doc_id, kind, bs,
         |    CAST(unnest(generate_series(1, len(bs))) AS INTEGER)
         |      AS entry_no
         |  FROM bl)
         |SELECT doc_id, entry_no,
         |  regexp_extract(bs[entry_no], '<loc>([^<]*)</loc>', 1) AS url,
         |  regexp_extract(bs[entry_no], '<lastmod>([^<]*)</lastmod>', 1)
         |    AS lastmod,
         |  kind
         |FROM ex
         |WHERE len(regexp_extract(bs[entry_no], '<loc>([^<]*)</loc>', 1))
         |  > 0
         |ORDER BY doc_id, entry_no""".stripMargin,

    // q309: the synthesis is engineered closed-form — urlset paths
    // {1, 2, id%7} deduped, /p/2 dropped on even hosts (the only
    // disallow), /p/1 dropped on %3 hosts (captured), per-host
    // politeness row_number
    "q309_frontier_sitemap" ->
      """WITH d AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 11 <> 0),
        |pz AS (
        |  SELECT DISTINCT doc_id, p FROM (
        |    SELECT doc_id, unnest([CAST(1 AS BIGINT), CAST(2 AS BIGINT),
        |      doc_id % 7]) AS p FROM d)),
        |flt AS (
        |  SELECT doc_id, p FROM pz
        |  WHERE NOT (p = 2 AND doc_id % 2 = 0)
        |    AND NOT (p = 1 AND doc_id % 3 = 0)),
        |u AS (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) || '.example.com'
        |    AS host,
        |  'https://d' || CAST(doc_id AS VARCHAR) || '.example.com/p/'
        |    || CAST(p AS VARCHAR) AS url
        |  FROM flt)
        |SELECT host,
        |  CAST(row_number() OVER (PARTITION BY host ORDER BY url)
        |    AS INTEGER) AS fetch_seq,
        |  url
        |FROM u ORDER BY host, fetch_seq""".stripMargin,

    // q319: four conditional integer sums + the continuity-corrected
    // quotient — same shape on both engines
    "q319_mcnemar" ->
      """WITH p AS (
        |  SELECT CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS a,
        |         CASE WHEN doc_id % 4 <> 0 THEN 1 ELSE 0 END AS b
        |  FROM documents),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_both_right,
        |    CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_both_wrong,
        |    CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM p)
        |SELECT n, n_both_right, n_both_wrong, b, c,
        |  CASE WHEN b + c > 0 THEN
        |    CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
        |      / CAST(b + c AS DOUBLE) END AS chi2
        |FROM g""".stripMargin,

    // q320: the greedy recursive walk with the GROUP-contiguous visit
    // order — source first, md5 order within it, same capacity rule
    "q320_pack_grouped" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(':' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      ::BIGINT % 4 AS shard,
        |    ('0x' || substr(md5(':o:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      ::BIGINT AS ord,
        |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY shard
        |      ORDER BY coalesce(source, ''), ord, doc_id) AS rn
        |  FROM d),
        |walk AS (
        |  SELECT shard, rn, doc_id, n_tokens,
        |         CAST(0 AS BIGINT) AS pack, n_tokens AS fill, 1 AS pos
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.shard, r.rn, r.doc_id, r.n_tokens,
        |         CASE WHEN w.fill > 0 AND w.fill + r.n_tokens > 512
        |              THEN w.pack + 1 ELSE w.pack END,
        |         CASE WHEN w.fill > 0 AND w.fill + r.n_tokens > 512
        |              THEN r.n_tokens ELSE w.fill + r.n_tokens END,
        |         CASE WHEN w.fill > 0 AND w.fill + r.n_tokens > 512
        |              THEN 1 ELSE w.pos + 1 END
        |  FROM walk w JOIN r ON r.shard = w.shard AND r.rn = w.rn + 1)
        |SELECT shard, pack AS pack_id, pos AS pack_pos, doc_id,
        |  n_tokens,
        |  CASE WHEN n_tokens > 512 THEN 1 ELSE 0 END AS truncated
        |FROM walk ORDER BY shard, pack_id, pack_pos""".stripMargin,

    // q321: the same sign-bit packing rebuilt from the raw floats —
    // 32 bits per word, bit j of word w = embedding[32w+j+1] > 0
    "q321_quantize_binary" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |b AS (
        |  SELECT vec_id, i.i AS i,
        |    CASE WHEN e[i.i] > 0 THEN 1 ELSE 0 END AS bit
        |  FROM v, (SELECT unnest(generate_series(1, 64)) AS i) i)
        |SELECT vec_id,
        |  CAST(sum(CASE WHEN i <= 32
        |    THEN bit * (1::BIGINT << (i - 1)) ELSE 0 END) AS BIGINT)
        |    AS w0,
        |  CAST(sum(CASE WHEN i > 32
        |    THEN bit * (1::BIGINT << (i - 33)) ELSE 0 END) AS BIGINT)
        |    AS w1,
        |  CAST(sum(bit) AS BIGINT) AS n_bits
        |FROM b GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // q322: Hamming = count of sign disagreements (identical to
    // popcount-of-XOR over the packed words); rank (distance, id)
    "q322_hamming_topk" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 3),
        |ham AS (
        |  SELECT q.q_id, v.vec_id,
        |    CAST(sum(CASE WHEN (q.qe[i.i] > 0) <> (v.e[i.i] > 0)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        |  FROM v, q, (SELECT unnest(generate_series(1, 64)) AS i) i
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT q_id, vec_id, hamming,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY hamming, vec_id) AS rk
        |  FROM ham)
        |SELECT q_id, CAST(rk AS INTEGER) AS rk, vec_id, hamming
        |FROM rk WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    // q329: q39's probe CTE + the sign-disagreement Hamming candidate
    // stage (top-20 over the probed clusters) + q61's cosine rank
    "q329_binary_ivf" ->
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
        |  WHERE vec_id = 0),
        |cent AS (
        |  SELECT label, list(m ORDER BY pos) AS centroid FROM (
        |    SELECT label, i AS pos,
        |           avg(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE))
        |             AS m
        |    FROM embeddings, generate_series(1, 64) t(i)
        |    GROUP BY label, i)
        |  GROUP BY label),
        |probes AS (
        |  SELECT label FROM cent, q
        |  ORDER BY list_cosine_similarity(centroid, qe) DESC, label
        |  LIMIT 3),
        |pruned AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings
        |  WHERE label IN (SELECT label FROM probes)),
        |ham AS (
        |  SELECT p.vec_id,
        |    CAST(sum(CASE WHEN (q.qe[i.i] > 0) <> (p.e[i.i] > 0)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS h
        |  FROM pruned p, q,
        |    (SELECT unnest(generate_series(1, 64)) AS i) i
        |  GROUP BY 1),
        |cand AS (SELECT vec_id FROM ham ORDER BY h, vec_id LIMIT 20),
        |scored AS (
        |  SELECT p.vec_id, list_cosine_similarity(p.e, q.qe) AS c
        |  FROM pruned p, q
        |  WHERE p.vec_id IN (SELECT vec_id FROM cand)
        |  ORDER BY c DESC, p.vec_id LIMIT 10)
        |SELECT vec_id, round(c, 6) AS cosine FROM scored
        |ORDER BY cosine DESC, vec_id""".stripMargin,

    // q330: metaspace pre-tokens rebuilt from the corpus's
    // single-space shape (EVERY word — including the first — takes
    // its leading ▁ under prepend_scheme=always), then the identical
    // merge-per-CTE fold over the ▁-form table
    "q330_metaspace_encode" ->
      s"""WITH mbase AS (
         |  SELECT doc_id, word_no,
         |         array_to_string(string_split(
         |           '▁' || ws[word_no], ''), ' ') AS enc
         |  FROM (SELECT doc_id, ws,
         |               CAST(unnest(generate_series(1, least(len(ws), 3)))
         |                 AS INTEGER) AS word_no
         |        FROM (SELECT doc_id,
         |                     list_filter(string_split(text, ' '),
         |                       t2 -> len(t2) > 0) AS ws
         |              FROM documents
         |              WHERE text IS NOT NULL AND doc_id % 10 = 0))),
         |${bpeMergeCtes(BpeMergesMeta)}
         |SELECT doc_id, word_no, enc AS encoded,
         |       CAST(len(string_split(enc, ' ')) AS INTEGER) AS n_subwords
         |FROM m${BpeMergesMeta.length - 1}
         |ORDER BY doc_id, word_no""".stripMargin,

    // q331: q330's metaspace encode chain, then the id lookup
    // replayed as a positioned unnest + LEFT JOIN over the same
    // ▁-alphabet VALUES vocab (absent symbol — incl. the deliberately
    // missing 'q' — maps to -1)
    "q331_metaspace_ids" -> {
      val vocabVals = BpeVocabMeta
        .map { case (s2, i) => s"('$s2', $i)" }.mkString(", ")
      s"""WITH mbase AS (
         |  SELECT doc_id, word_no,
         |         array_to_string(string_split(
         |           '▁' || ws[word_no], ''), ' ') AS enc
         |  FROM (SELECT doc_id, ws,
         |               CAST(unnest(generate_series(1, least(len(ws), 3)))
         |                 AS INTEGER) AS word_no
         |        FROM (SELECT doc_id,
         |                     list_filter(string_split(text, ' '),
         |                       t2 -> len(t2) > 0) AS ws
         |              FROM documents
         |              WHERE text IS NOT NULL AND doc_id % 10 = 0))),
         |${bpeMergeCtes(BpeMergesMeta)},
         |vocab(sym, id) AS (VALUES $vocabVals),
         |tok AS (
         |  SELECT doc_id, word_no, enc,
         |         CAST(unnest(generate_series(1,
         |             len(string_split(enc, ' ')))) AS INTEGER) AS pos
         |  FROM m${BpeMergesMeta.length - 1}),
         |sy AS (
         |  SELECT doc_id, word_no, pos, string_split(enc, ' ')[pos] AS sym
         |  FROM tok),
         |ids AS (
         |  SELECT sy.doc_id, sy.word_no, sy.pos, coalesce(v.id, -1) AS id
         |  FROM sy LEFT JOIN vocab v ON v.sym = sy.sym)
         |SELECT doc_id, word_no,
         |       array_to_string(array_agg(CAST(id AS VARCHAR)
         |         ORDER BY pos), ' ') AS ids_str,
         |       CAST(count(*) AS INTEGER) AS n_tokens,
         |       CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END)
         |         AS INTEGER) AS n_oov
         |FROM ids GROUP BY doc_id, word_no
         |ORDER BY doc_id, word_no""".stripMargin
    },

    // q346: q331's replay with the fallback leg — symbols found in
    // the vocab keep their id; the rest expand per character to
    // base + ascii() (the shared closed-form byte-piece id
    // assignment; the corpus is ASCII so chars ARE the UTF-8 bytes),
    // ordered (pos, sub)
    "q346_byte_fallback_ids" -> {
      val vocabVals = BpeVocabMeta
        .map { case (s2, i) => s"('$s2', $i)" }.mkString(", ")
      val base = BpeVocabMeta.size
      s"""WITH mbase AS (
         |  SELECT doc_id, word_no,
         |         array_to_string(string_split(
         |           '▁' || ws[word_no], ''), ' ') AS enc
         |  FROM (SELECT doc_id, ws,
         |               CAST(unnest(generate_series(1, least(len(ws), 3)))
         |                 AS INTEGER) AS word_no
         |        FROM (SELECT doc_id,
         |                     list_filter(string_split(text, ' '),
         |                       t2 -> len(t2) > 0) AS ws
         |              FROM documents
         |              WHERE text IS NOT NULL AND doc_id % 10 = 5))),
         |${bpeMergeCtes(BpeMergesMeta)},
         |vocab(sym, id) AS (VALUES $vocabVals),
         |tok AS (
         |  SELECT doc_id, word_no, enc,
         |         CAST(unnest(generate_series(1,
         |             len(string_split(enc, ' ')))) AS INTEGER) AS pos
         |  FROM m${BpeMergesMeta.length - 1}),
         |sy AS (
         |  SELECT doc_id, word_no, pos, string_split(enc, ' ')[pos] AS sym
         |  FROM tok),
         |hit AS (
         |  SELECT sy.doc_id, sy.word_no, sy.pos, 1 AS sub, v.id
         |  FROM sy JOIN vocab v ON v.sym = sy.sym),
         |miss AS (
         |  SELECT sy0.doc_id, sy0.word_no, sy0.pos, sy0.sym
         |  FROM sy sy0 ANTI JOIN vocab v ON v.sym = sy0.sym),
         |fb AS (
         |  SELECT doc_id, word_no, pos,
         |         CAST(unnest(generate_series(1, len(sym)))
         |           AS INTEGER) AS sub,
         |         sym
         |  FROM miss),
         |ids AS (
         |  SELECT doc_id, word_no, pos, sub, id FROM hit
         |  UNION ALL
         |  SELECT doc_id, word_no, pos, sub,
         |         $base + ascii(substr(sym, sub, 1)) AS id
         |  FROM fb)
         |SELECT doc_id, word_no,
         |       array_to_string(array_agg(CAST(id AS VARCHAR)
         |         ORDER BY pos, sub), ' ') AS ids_str,
         |       CAST(count(*) AS INTEGER) AS n_tokens,
         |       CAST(sum(CASE WHEN id >= $base THEN 1 ELSE 0 END)
         |         AS INTEGER) AS n_bytes
         |FROM ids GROUP BY doc_id, word_no
         |ORDER BY doc_id, word_no""".stripMargin
    },

    // q347: the q346 fold with the SYMBOL-level rewrite — a vocab hit
    // passes verbatim, a miss respells per character as <0x%02X>
    // (ASCII corpus: chars ARE the UTF-8 bytes), symbols rejoined in
    // fold order
    "q347_byte_fallback_file" -> {
      val vocabVals = BpeVocabMeta
        .map { case (s2, i) => s"('$s2', $i)" }.mkString(", ")
      s"""WITH mbase AS (
         |  SELECT doc_id, word_no,
         |         array_to_string(string_split(
         |           '▁' || ws[word_no], ''), ' ') AS enc
         |  FROM (SELECT doc_id, ws,
         |               CAST(unnest(generate_series(1, least(len(ws), 3)))
         |                 AS INTEGER) AS word_no
         |        FROM (SELECT doc_id,
         |                     list_filter(string_split(text, ' '),
         |                       t2 -> len(t2) > 0) AS ws
         |              FROM documents
         |              WHERE text IS NOT NULL AND doc_id % 10 = 6))),
         |${bpeMergeCtes(BpeMergesMeta)},
         |vocab(sym, id) AS (VALUES $vocabVals),
         |tok AS (
         |  SELECT doc_id, word_no, enc,
         |         CAST(unnest(generate_series(1,
         |             len(string_split(enc, ' ')))) AS INTEGER) AS pos
         |  FROM m${BpeMergesMeta.length - 1}),
         |sy AS (
         |  SELECT doc_id, word_no, pos, string_split(enc, ' ')[pos] AS sym
         |  FROM tok),
         |rw AS (
         |  SELECT sy.doc_id, sy.word_no, sy.pos,
         |         CASE WHEN v.sym IS NOT NULL THEN sy.sym
         |              ELSE array_to_string(list_transform(
         |                string_split(sy.sym, ''),
         |                ch -> printf('<0x%02X>', ascii(ch))), ' ')
         |         END AS piece
         |  FROM sy LEFT JOIN vocab v ON v.sym = sy.sym)
         |SELECT doc_id, word_no,
         |       string_agg(piece, ' ' ORDER BY pos) AS encoded,
         |       CAST(len(string_split(
         |         string_agg(piece, ' ' ORDER BY pos), ' '))
         |         AS INTEGER) AS n_subwords
         |FROM rw GROUP BY doc_id, word_no
         |ORDER BY doc_id, word_no""".stripMargin
    },

    // q332: q235's DP prelude over the ▁-form word domain (every
    // word ▁-prefixed — the metaspace tok CTE), same Viterbi rounds
    // and tie order
    "q332_metaspace_unigram" ->
      s"""WITH $unigramDpCtesMetaspace
         |SELECT a12.word, np AS n_pieces, round(score, 6) AS score,
         |       segs
         |FROM a12
         |JOIN (SELECT word, len(word) AS wl FROM w) lw
         |  ON a12.word = lw.word AND a12.i = lw.wl
         |ORDER BY a12.word""".stripMargin,

    // q340: the full-width damage is exactly undone by the declared
    // NFKC+Lowercase chain, so the oracle replays q269's clean-corpus
    // fold (lower + ws split + merge-per-CTE) on the %10==1 slice —
    // equality holds ONLY if the Spark side dispatched the declared
    // normalizer before pre-tokenization
    "q340_normalizer_encode" ->
      s"""WITH mbase AS (
         |  SELECT doc_id,
         |         CAST(unnest(generate_series(1, least(len(ws), 3)))
         |           AS INTEGER) AS word_no,
         |         array_to_string(string_split(unnest(ws[1:3]), ''), ' ')
         |           AS enc
         |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |               t -> len(t) > 0) AS ws
         |        FROM documents
         |        WHERE text IS NOT NULL AND doc_id % 10 = 1)),
         |$bpeKernelOracleCtes
         |SELECT doc_id, word_no, enc AS encoded,
         |       CAST(len(string_split(enc, ' ')) AS INTEGER) AS n_subwords
         |FROM m${BpeMergesBig.length - 1}
         |ORDER BY doc_id, word_no""".stripMargin,

    // q341: the full corpus re-priced through q154's chained-replace
    // fold on the CLEAN text (the declared NFKC+Lowercase chain
    // exactly undoes the full-width damage, the q340 argument);
    // n_words = non-empty ws tokens, n_tokens = summed subword counts
    "q341_token_budgets" ->
      s"""WITH w AS (
         |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |           t2 -> len(t2) > 0) AS ws
         |  FROM documents WHERE text IS NOT NULL),
         |tok AS (
         |  SELECT doc_id, unnest(ws) AS word FROM w),
         |enc AS (
         |  SELECT doc_id, ${bpeOracleExpr("word")} AS e FROM tok)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(len(string_split(e, ' '))) AS BIGINT)
         |         AS n_tokens
         |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q344: the oracle never renders — it re-derives the rendered
    // string's budget from the CLEAN corpus words: n_turns markers
    // (the closed-form ceil(n/5) capped at 4 — q204's turn slicing,
    // each marker one word/one token) plus the first 20 words
    // re-priced through q154's chained-replace fold (the q341 shape)
    "q344_chat_token_budgets" ->
      s"""WITH w AS (
         |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |           t2 -> len(t2) > 0) AS ws
         |  FROM documents WHERE text IS NOT NULL),
         |base AS (
         |  SELECT doc_id, ws[1:20] AS cw,
         |    least(CAST(ceil(len(ws) / 5.0) AS INTEGER), 4) AS n_turns
         |  FROM w),
         |tok AS (
         |  SELECT doc_id, unnest(cw) AS word FROM base),
         |enc AS (
         |  SELECT doc_id, ${bpeOracleExpr("word")} AS e FROM tok),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cw,
         |         CAST(sum(len(string_split(e, ' '))) AS BIGINT)
         |           AS n_sub
         |  FROM enc GROUP BY doc_id)
         |SELECT b.doc_id,
         |  CAST(b.n_turns + coalesce(a.n_cw, 0) AS BIGINT) AS n_words,
         |  CAST(b.n_turns + coalesce(a.n_sub, 0) AS BIGINT) AS n_tokens
         |FROM base b LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // q328: the closed form of the announcement synthesis — two URLs
    // on %3==0 hosts, one on %3==1, none elsewhere (the commented
    // declaration never matches)
    "q328_sitemap_seeds" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'd' || CAST(doc_id AS VARCHAR) || '.example.com' AS host
        |  FROM documents),
        |e AS (
        |  SELECT host, 'https://' || host || '/sitemap.xml' AS url
        |  FROM d WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT host, 'https://' || host || '/news.xml'
        |  FROM d WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT host, 'https://' || host || '/s1.xml'
        |  FROM d WHERE doc_id % 3 = 1)
        |SELECT DISTINCT host, url FROM e ORDER BY host, url"""
        .stripMargin,

    // q326: doubled-unit ranks (2·rank + ties − 1, exact integers) →
    // LONG sums → ONE sqrt + division, same shape both engines
    "q326_spearman" ->
      """WITH p AS (
        |  SELECT source,
        |    CAST(doc_id * 31 % 101 AS BIGINT) AS a,
        |    CAST(doc_id * 31 % 101 + (doc_id % 13) * 5 AS BIGINT) AS b
        |  FROM documents),
        |r AS (
        |  SELECT source,
        |    2 * rank() OVER (PARTITION BY source ORDER BY a)
        |      + count(*) OVER (PARTITION BY source, a) - 1 AS ra,
        |    2 * rank() OVER (PARTITION BY source ORDER BY b)
        |      + count(*) OVER (PARTITION BY source, b) - 1 AS rb
        |  FROM p),
        |g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(ra) AS BIGINT) AS sx,
        |    CAST(sum(rb) AS BIGINT) AS sy,
        |    CAST(sum(ra * ra) AS BIGINT) AS sxx,
        |    CAST(sum(rb * rb) AS BIGINT) AS syy,
        |    CAST(sum(ra * rb) AS BIGINT) AS sxy
        |  FROM r GROUP BY 1)
        |SELECT source, n,
        |  CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx
        |         > 0
        |        AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy
        |         > 0
        |    THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |      / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |        * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
        |    END AS rho
        |FROM g ORDER BY source""".stripMargin,

    // q349: the q326 doubled-rank recipe on ONE score column —
    // AUC = (ΣR2_pos − n_pos(n_pos+1)) / (2·n_pos·n_neg), exact
    // integers up to the single division
    "q349_roc_auc" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(doc_id % 3 = 0 AS INTEGER) AS label,
        |    CAST(doc_id * 7 % 13 AS INTEGER) AS score
        |  FROM documents),
        |r AS (
        |  SELECT source, label,
        |    2 * rank() OVER (PARTITION BY source ORDER BY score)
        |      + count(*) OVER (PARTITION BY source, score) - 1 AS r2
        |  FROM d),
        |g AS (
        |  SELECT source,
        |    CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pos,
        |    CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_neg,
        |    CAST(sum(CASE WHEN label = 1 THEN r2 ELSE 0 END) AS BIGINT)
        |      AS s2
        |  FROM r GROUP BY 1)
        |SELECT source, n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
        |      / CAST(2 * n_pos * n_neg AS DOUBLE) END AS auc
        |FROM g ORDER BY source""".stripMargin,

    // q350: the ascending-rank Gini form — ties order-invariant
    // inside Σ i·x, exact LONG sums, one division
    "q350_gini" ->
      """WITH d AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS v
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT source, v,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY v)
        |      AS BIGINT) AS i
        |  FROM d),
        |g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS s,
        |    CAST(sum(i * v) AS BIGINT) AS a,
        |    CAST(min(v) AS BIGINT) AS mn
        |  FROM r GROUP BY 1)
        |SELECT source, n,
        |  CASE WHEN s > 0 AND mn >= 0 THEN
        |    CAST(2 * a - (n + 1) * s AS DOUBLE)
        |      / CAST(n * s AS DOUBLE) END AS gini
        |FROM g ORDER BY source""".stripMargin,

    // q327: sha256(salt ':' value), nulls stay null — the same hash
    // both engines ship
    "q327_pseudonymize" ->
      """SELECT doc_id,
        |  sha256('rel-2026-08:' || 'u' ||
        |    CAST(doc_id % 97 AS VARCHAR)) AS user_id,
        |  CASE WHEN doc_id % 7 <> 0
        |       THEN sha256('rel-2026-08:' || source) END AS src
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q325: the same synthesis, repairs as literal replaces (longest
    // first; the base corpus is ASCII so no other byte can match)
    "q325_fix_mojibake" ->
      """WITH syn AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |           THEN coalesce(text, '') || ' cafÃ©'
        |         WHEN doc_id % 5 = 1
        |           THEN coalesce(text, '') || ' donâ€™t'
        |         WHEN doc_id % 5 = 2
        |           THEN coalesce(text, '') || ' naÃ¯ve â€” d'
        |         WHEN doc_id % 5 = 3
        |           THEN coalesce(text, '') || ' cafÃƒÂ©'
        |         ELSE coalesce(text, '') END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  replace(replace(replace(replace(replace(t,
        |    'cafÃƒÂ©', 'café'), 'cafÃ©', 'café'),
        |    'donâ€™t', 'don’t'), 'naÃ¯ve', 'naïve'),
        |    'â€”', '—') AS text
        |FROM syn ORDER BY doc_id""".stripMargin,

    // q324: exact cosine top-10 (the recallTail brute form) vs the
    // sign-disagreement Hamming top-10, hits + ONE edge quotient
    "q324_hamming_recall" -> {
      def chain(a: Int => String, b: Int => String): String =
        (0 until 64).map(i => s"${a(i)} * ${b(i)}").mkString(" + ")
      val vq = chain(i => s"e[${i + 1}]", i => s"qe[${i + 1}]")
      val vv = chain(i => s"e[${i + 1}]", i => s"e[${i + 1}]")
      val qq = chain(i => s"qe[${i + 1}]", i => s"qe[${i + 1}]")
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings),
         |q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
         |brute AS (
         |  SELECT vec_id FROM (
         |    SELECT k.vec_id,
         |      CASE WHEN sqrt($vv) * sqrt($qq) > 0
         |           THEN ($vq) / (sqrt($vv) * sqrt($qq))
         |           ELSE 0.0 END AS cosine
         |    FROM v k, q)
         |  ORDER BY cosine DESC, vec_id LIMIT 10),
         |ham AS (
         |  SELECT k.vec_id,
         |    CAST(sum(CASE WHEN (q.qe[i.i] > 0) <> (k.e[i.i] > 0)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS hamming
         |  FROM v k, q, (SELECT unnest(generate_series(1, 64)) AS i) i
         |  GROUP BY 1),
         |approx AS (
         |  SELECT vec_id FROM ham ORDER BY hamming, vec_id LIMIT 10)
         |SELECT CAST(count(*) AS BIGINT) AS hits,
         |  round(count(*) / 10.0, 6) AS recall
         |FROM brute WHERE vec_id IN (SELECT vec_id FROM approx)"""
        .stripMargin
    },

    // q323: the q322 candidate stage (sign-disagreement Hamming,
    // (distance, id) rank, top-20) feeding q61's exact-cosine rerank
    "q323_hamming_rerank" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 3),
        |ham AS (
        |  SELECT q.q_id, v.vec_id,
        |    CAST(sum(CASE WHEN (q.qe[i.i] > 0) <> (v.e[i.i] > 0)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        |  FROM v, q, (SELECT unnest(generate_series(1, 64)) AS i) i
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
        |        ORDER BY hamming, vec_id) AS hrk
        |    FROM ham)
        |  WHERE hrk <= 20),
        |scored AS (
        |  SELECT c.q_id, c.vec_id,
        |    list_cosine_similarity(v.e, q.qe) AS cosine
        |  FROM cand c
        |  JOIN v ON v.vec_id = c.vec_id
        |  JOIN q ON q.q_id = c.q_id
        |  WHERE list_sum(list_transform(v.e, x -> abs(x))) > 0
        |    AND list_sum(list_transform(q.qe, x -> abs(x))) > 0),
        |r AS (
        |  SELECT q_id, vec_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rk
        |  FROM scored)
        |SELECT q_id, rk, vec_id, round(cosine, 6) AS cosine
        |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    // q317: the engineered closed form — 700s open their own packs in
    // id order (pack rn-1, pos 1), 500s tight-fit into them in id
    // order (pack rn-1, pos 2) until the 700-packs run out, leftover
    // 500s pair among themselves in creation order
    "q317_pack_bfd" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN doc_id % 3 = 0 THEN 700 ELSE 500 END
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |s7 AS (
        |  SELECT doc_id, n_tokens,
        |    row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM n WHERE n_tokens = 700),
        |s5 AS (
        |  SELECT doc_id, n_tokens,
        |    row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM n WHERE n_tokens = 500),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n7 FROM s7),
        |asg AS (
        |  SELECT doc_id, n_tokens, CAST(rn - 1 AS BIGINT) AS pack_id,
        |    1 AS pack_pos
        |  FROM s7
        |  UNION ALL
        |  SELECT s5.doc_id, s5.n_tokens,
        |    CAST(CASE WHEN s5.rn <= c.n7 THEN s5.rn - 1
        |         ELSE c.n7 + (s5.rn - c.n7 - 1) // 2 END AS BIGINT),
        |    CAST(CASE WHEN s5.rn <= c.n7 THEN 2
        |         ELSE (s5.rn - c.n7 - 1) % 2 + 1 END AS INTEGER)
        |  FROM s5, c)
        |SELECT CAST(0 AS BIGINT) AS shard, pack_id, pack_pos, doc_id,
        |  n_tokens, 0 AS truncated
        |FROM asg ORDER BY pack_id, pack_pos""".stripMargin,

    // q318: greedy replayed with the recursive-walk technique (md5
    // arrival order, 1200 cap), BFD pack count closed-form (n7 packs
    // + paired leftovers), fill as ONE exact-integer quotient
    "q318_pack_compare" ->
      """WITH RECURSIVE n AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN doc_id % 3 = 0 THEN 700 ELSE 500 END
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |    row_number() OVER (ORDER BY
        |      ('0x' || substr(md5(':o:' || CAST(doc_id AS VARCHAR)),
        |        1, 15))::BIGINT, doc_id) AS rn
        |  FROM n),
        |walk AS (
        |  SELECT rn, doc_id, n_tokens,
        |         CAST(0 AS BIGINT) AS pack, n_tokens AS fill
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.rn, r.doc_id, r.n_tokens,
        |         CASE WHEN w.fill + r.n_tokens > 1200
        |              THEN w.pack + 1 ELSE w.pack END,
        |         CASE WHEN w.fill + r.n_tokens > 1200
        |              THEN r.n_tokens ELSE w.fill + r.n_tokens END
        |  FROM walk w JOIN r ON r.rn = w.rn + 1),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |  FROM n),
        |gr AS (
        |  SELECT CAST(count(DISTINCT pack) AS BIGINT) AS n_packs
        |  FROM walk),
        |cls AS (
        |  SELECT CAST(sum(CASE WHEN n_tokens = 700 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n7,
        |    CAST(sum(CASE WHEN n_tokens = 500 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n5
        |  FROM n),
        |bf AS (
        |  SELECT n7 + CAST(ceil(
        |      greatest(n5 - n7, 0) / 2.0) AS BIGINT) AS n_packs
        |  FROM cls)
        |SELECT packer, n_packs, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(n_packs * 1200 AS DOUBLE)
        |    AS fill_fraction
        |FROM (
        |  SELECT 'bfd' AS packer, bf.n_packs, tot.n_docs, tot.n_tokens
        |  FROM bf, tot
        |  UNION ALL
        |  SELECT 'greedy', gr.n_packs, tot.n_docs, tot.n_tokens
        |  FROM gr, tot)
        |ORDER BY packer""".stripMargin,

    // q315: q307's parse plus the entity decode as an ordered literal
    // replace chain — named entities, the fixture's numeric literals,
    // &amp; LAST (replace-all left-to-right then reproduces the
    // kernel's single-pass rule on any input mixing them)
    "q315_sitemap_unescape" -> {
      def dec(c: String) =
        s"""replace(replace(replace(replace(replace(replace(replace($c,
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&apos;', ''''), '&#47;', '/'), '&#x2F;', '/'),
           '&amp;', '&')"""
      s"""WITH syn AS (
         |  SELECT doc_id, $sitemapEscapedXmlSql AS xml FROM documents),
         |bl AS (
         |  SELECT doc_id,
         |    CASE WHEN contains(xml, '<sitemapindex') THEN 'index'
         |         WHEN contains(xml, '<urlset') THEN 'urlset'
         |         ELSE 'unknown' END AS kind,
         |    regexp_extract_all(xml,
         |      '(?s)<(?:url|sitemap)>(.*?)</(?:url|sitemap)>', 1) AS bs
         |  FROM syn),
         |ex AS (
         |  SELECT doc_id, kind, bs,
         |    CAST(unnest(generate_series(1, len(bs))) AS INTEGER)
         |      AS entry_no
         |  FROM bl),
         |raw AS (
         |  SELECT doc_id, entry_no, kind,
         |    regexp_extract(bs[entry_no], '<loc>([^<]*)</loc>', 1)
         |      AS u0,
         |    regexp_extract(bs[entry_no],
         |      '<lastmod>([^<]*)</lastmod>', 1) AS m0
         |  FROM ex)
         |SELECT doc_id, entry_no,
         |  ${dec("u0")} AS url,
         |  ${dec("m0")} AS lastmod,
         |  kind
         |FROM raw WHERE len(u0) > 0
         |ORDER BY doc_id, entry_no""".stripMargin
    },

    // q316: the index-leg closed form — %11 docs enumerate
    // host/sitemap{1,2}.xml (sitemap2 without lastmod); even hosts'
    // sitemap1 is in the fetched ledger and anti-joins away
    "q316_sitemap_index_leg" ->
      """WITH d AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 11 = 0),
        |e AS (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) || '.example.com'
        |      AS host,
        |    'https://d' || CAST(doc_id AS VARCHAR) ||
        |      '.example.com/sitemap1.xml' AS url,
        |    '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |      AS lastmod
        |  FROM d WHERE doc_id % 2 <> 0
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) || '.example.com'
        |      AS host,
        |    'https://d' || CAST(doc_id AS VARCHAR) ||
        |      '.example.com/sitemap2.xml' AS url,
        |    '' AS lastmod
        |  FROM d)
        |SELECT host, url, lastmod FROM e ORDER BY url""".stripMargin,

    // q314: the same integer coincidence statistics — per-item
    // disagreement × (6 div (m_u−1)), integer marginals, one division
    "q314_krippendorff" ->
      """WITH rt AS (
        |  SELECT doc_id AS u, r, ((doc_id * (r + 3)) % 7) % 3 AS c
        |  FROM documents CROSS JOIN
        |    (SELECT unnest(generate_series(0, 3)) AS r) rr
        |  WHERE (doc_id + r) % 4 <> 0 AND (doc_id + 2 * r) % 5 <> 0),
        |cnt AS (SELECT u, c, count(*) AS n_uc FROM rt GROUP BY 1, 2),
        |pi AS (
        |  SELECT u, CAST(sum(n_uc) AS BIGINT) AS m_u,
        |         CAST(sum(n_uc * n_uc) AS BIGINT) AS sq
        |  FROM cnt GROUP BY 1),
        |pu AS (SELECT * FROM pi WHERE m_u >= 2),
        |d_o AS (
        |  SELECT CAST(coalesce(sum((m_u * m_u - sq) * (6 // (m_u - 1))),
        |      0) AS BIGINT) AS d_o_l,
        |    CAST(count(*) AS BIGINT) AS n_items_used
        |  FROM pu),
        |mg AS (
        |  SELECT CAST(coalesce(sum(n_c), 0) AS BIGINT) AS n,
        |         CAST(coalesce(sum(n_c * n_c), 0) AS BIGINT) AS sq_c
        |  FROM (SELECT c, CAST(sum(n_uc) AS BIGINT) AS n_c
        |        FROM cnt WHERE u IN (SELECT u FROM pu) GROUP BY 1))
        |SELECT n_items_used, n, d_o_l,
        |  CAST(n * n - sq_c AS BIGINT) AS d_e_num,
        |  CASE WHEN n * n - sq_c > 0 THEN
        |    1.0 - CAST((n - 1) * d_o_l AS DOUBLE)
        |      / CAST(6 * (n * n - sq_c) AS DOUBLE) END AS alpha
        |FROM d_o, mg""".stripMargin,

    // q313: the same gate predicates (qualityCtes + the q29 stop-ratio
    // lang rule) as conditional sums, unpivoted to the report rows
    "q313_gate_audit" ->
      s"""WITH $qualityCtes,
         |fl AS (
         |  SELECT d.doc_id,
         |    (d.text IS NULL OR len(d.text) = 0) AS f_null,
         |    CASE WHEN d.text IS NULL OR len(d.text) = 0 THEN FALSE
         |         ELSE q.quality < 0.3 END AS f_q,
         |    CASE WHEN d.text IS NULL OR len(d.text) = 0 THEN FALSE
         |         ELSE (CASE WHEN q.sr >= 0.12 THEN 'en' ELSE 'other'
         |               END) <> 'en' END AS f_l
         |  FROM documents d JOIN q ON q.doc_id = d.doc_id),
         |ag AS (
         |  SELECT
         |    CAST(sum(CASE WHEN f_null THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c_null,
         |    CAST(sum(CASE WHEN f_q THEN 1 ELSE 0 END) AS BIGINT) AS c_q,
         |    CAST(sum(CASE WHEN f_l THEN 1 ELSE 0 END) AS BIGINT) AS c_l,
         |    CAST(sum(CASE WHEN f_null AND NOT f_q AND NOT f_l
         |      THEN 1 ELSE 0 END) AS BIGINT) AS m_null,
         |    CAST(sum(CASE WHEN f_q AND NOT f_null AND NOT f_l
         |      THEN 1 ELSE 0 END) AS BIGINT) AS m_q,
         |    CAST(sum(CASE WHEN f_l AND NOT f_null AND NOT f_q
         |      THEN 1 ELSE 0 END) AS BIGINT) AS m_l,
         |    CAST(sum(CASE WHEN NOT f_null AND NOT f_q AND NOT f_l
         |      THEN 1 ELSE 0 END) AS BIGINT) AS pass
         |  FROM fl)
         |SELECT 'all_pass' AS gate, pass AS n_flagged,
         |  pass AS n_marginal FROM ag
         |UNION ALL
         |SELECT 'lang', c_l, m_l FROM ag
         |UNION ALL
         |SELECT 'null_text', c_null, m_null FROM ag
         |UNION ALL
         |SELECT 'quality', c_q, m_q FROM ag
         |ORDER BY gate""".stripMargin,

    // q312: the synthesis closed form — even hosts read their (id%7)+1
    // wildcard delay, %3 odd hosts the exact-group 0.5, others nothing
    "q312_crawl_delay" ->
      """SELECT 'd' || CAST(doc_id AS VARCHAR) || '.example.com' AS host,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 7 + 1 AS DOUBLE)
        |       WHEN doc_id % 3 = 0 THEN 0.5 END AS crawl_delay_s
        |FROM documents
        |WHERE doc_id % 2 = 0 OR doc_id % 3 = 0
        |ORDER BY host""".stripMargin,

    // q311: the identical patterns (attribute-order fallbacks as a
    // CASE on the first pattern's miss) over the same synthesis
    "q311_html_meta" ->
      s"""WITH syn AS (
         |  SELECT doc_id, $htmlHeadSynthesisSql AS h
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT doc_id,
         |  regexp_replace(regexp_extract(h,
         |      '(?is)<title[^>]*>([^<]*)</title>', 1),
         |    '^\\s+|\\s+$$', '', 'g') AS title,
         |  CASE WHEN regexp_extract(h,
         |      '(?is)<link[^>]*rel=["'']canonical["''][^>]*href=["'']([^"''<>]+)["'']',
         |      1) <> '' THEN regexp_extract(h,
         |      '(?is)<link[^>]*rel=["'']canonical["''][^>]*href=["'']([^"''<>]+)["'']',
         |      1)
         |  ELSE regexp_extract(h,
         |      '(?is)<link[^>]*href=["'']([^"''<>]+)["''][^>]*rel=["'']canonical["'']',
         |      1) END AS canonical,
         |  CASE WHEN regexp_extract(h,
         |      '(?is)<meta[^>]*name=["'']description["''][^>]*content=["'']([^"''<>]*)["'']',
         |      1) <> '' THEN regexp_extract(h,
         |      '(?is)<meta[^>]*name=["'']description["''][^>]*content=["'']([^"''<>]*)["'']',
         |      1)
         |  ELSE regexp_extract(h,
         |      '(?is)<meta[^>]*content=["'']([^"''<>]*)["''][^>]*name=["'']description["'']',
         |      1) END AS description,
         |  CASE WHEN regexp_extract(h,
         |      '(?is)<meta[^>]*property=["'']og:title["''][^>]*content=["'']([^"''<>]*)["'']',
         |      1) <> '' THEN regexp_extract(h,
         |      '(?is)<meta[^>]*property=["'']og:title["''][^>]*content=["'']([^"''<>]*)["'']',
         |      1)
         |  ELSE regexp_extract(h,
         |      '(?is)<meta[^>]*content=["'']([^"''<>]*)["''][^>]*property=["'']og:title["'']',
         |      1) END AS og_title
         |FROM syn ORDER BY doc_id""".stripMargin,

    // q310: the ordered contains-filter over the same constant list
    // replays the automaton's keyword-order match report
    "q310_url_keywords" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://w' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example.com/' ||
        |    CASE doc_id % 5 WHEN 1 THEN 'casino'
        |         WHEN 2 THEN 'poker-night' WHEN 3 THEN 'sportsbet'
        |         WHEN 4 THEN 'alphabet-soup' ELSE 'clean' END ||
        |    '/page' AS url
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, url,
        |    list_filter(['casino', 'poker', 'bet'],
        |      k -> contains(url, k)) AS ms
        |  FROM u)
        |SELECT doc_id, url,
        |  coalesce(array_to_string(ms, ' '), '') AS matched,
        |  CAST(len(ms) AS INTEGER) AS n_matched,
        |  len(ms) > 0 AS blocked
        |FROM m ORDER BY doc_id""".stripMargin,

    // q308: the same integer sufficient statistic — Σ(k − 128·y)² as
    // BIGINT, one division at the edge
    "q308_brier" ->
      """WITH r AS (
        |  SELECT (doc_id * 7) % 129 AS k,
        |         CASE WHEN (doc_id * 13) % 128 < (doc_id * 7) % 129
        |              THEN 1 ELSE 0 END AS c
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum((k - 128 * c) * (k - 128 * c)) AS BIGINT) AS sq_sum,
        |  CAST(sum((k - 128 * c) * (k - 128 * c)) AS DOUBLE)
        |    / CAST(count(*) * 16384 AS DOUBLE) AS brier
        |FROM r""".stripMargin
  )

  /** q291/q292's canary tiers as a VALUES table — mirrors
    * [[CanarySpec]]. */
  private def canarySpecCte: String =
    """spec(canary_id, m) AS (
      |  VALUES ('c2', 2), ('c10', 10), ('c50', 50))""".stripMargin

  /** q202/q293's oracle prelude: the greedy capacity-reset walk
    * (maxTokens 512, 4 md5 shards) replayed as a recursive CTE —
    * packSequencesGreedy's exact rule. Callers prefix `WITH
    * RECURSIVE`. */
  private def greedyWalkOracleCtes: String =
    """d AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(':' || CAST(doc_id AS VARCHAR)), 1, 8))
      |      ::BIGINT % 4 AS shard,
      |    ('0x' || substr(md5(':o:' || CAST(doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT AS ord,
      |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
      |      AS n_tokens
      |  FROM documents),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY shard
      |                               ORDER BY ord, doc_id) AS rn
      |  FROM d),
      |walk AS (
      |  SELECT shard, rn, doc_id, n_tokens,
      |         CAST(0 AS BIGINT) AS pack, n_tokens AS fill, 1 AS pos
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT r.shard, r.rn, r.doc_id, r.n_tokens,
      |         CASE WHEN w.fill > 0 AND w.fill + r.n_tokens > 512
      |              THEN w.pack + 1 ELSE w.pack END,
      |         CASE WHEN w.fill > 0 AND w.fill + r.n_tokens > 512
      |              THEN r.n_tokens ELSE w.fill + r.n_tokens END,
      |         CASE WHEN w.fill > 0 AND w.fill + r.n_tokens > 512
      |              THEN 1 ELSE w.pos + 1 END
      |  FROM walk w JOIN r ON r.shard = w.shard AND r.rn = w.rn + 1)"""
      .stripMargin

  /** q287/q288's oracle prelude: the synthesized telemetry, the exact
    * integer OLS sums, and the slope + verdict — lossTrajectories
    * replayed CTE by CTE. */
  private def lossOracleCtes: String =
    """tele AS (
      |  SELECT d.doc_id, s.step,
      |         CAST(CASE
      |           WHEN d.doc_id % 4 = 0 THEN
      |             3000 - s.step * 200 +
      |             ((d.doc_id * (s.step + 1)) % 7) * 10
      |           WHEN d.doc_id % 4 = 1 THEN 750 - s.step * 100
      |           WHEN d.doc_id % 4 = 2 THEN
      |             2000 + (CASE WHEN s.step % 4 IN (0, 3)
      |                          THEN 400 ELSE -400 END) +
      |             (d.doc_id % 5) * 4
      |           ELSE 1500 + (d.doc_id % 9) * 2 END AS BIGINT) AS loss
      |  FROM documents d,
      |       (SELECT unnest(generate_series(0, 7)) AS step) s),
      |g AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_steps,
      |         CAST(sum(step) AS BIGINT) AS sx,
      |         CAST(sum(loss) AS BIGINT) AS sy,
      |         CAST(sum(step * step) AS BIGINT) AS sxx,
      |         CAST(sum(step * loss) AS BIGINT) AS sxy,
      |         CAST(min(loss) AS BIGINT) AS min_y,
      |         CAST(max(loss) AS BIGINT) AS max_y,
      |         CAST(arg_min(loss, step) AS BIGINT) AS first_milli,
      |         CAST(arg_max(loss, step) AS BIGINT) AS last_milli
      |  FROM tele GROUP BY 1 HAVING count(*) >= 2),
      |sl AS (
      |  SELECT doc_id, n_steps, first_milli, last_milli, min_y, max_y,
      |         CAST(n_steps * sxy - sx * sy AS DOUBLE) /
      |           CAST(n_steps * sxx - sx * sx AS DOUBLE) AS slope_milli
      |  FROM g),
      |traj AS (
      |  SELECT doc_id, n_steps, first_milli, last_milli, slope_milli,
      |         CASE WHEN slope_milli <= -10 AND last_milli < 100
      |              THEN 'memorized'
      |              WHEN slope_milli <= -10 THEN 'learned'
      |              WHEN max_y - min_y > 500 THEN 'noisy'
      |              ELSE 'stagnant' END AS verdict
      |  FROM sl)""".stripMargin

  /** q289/q290's oracle synthesis — mdSynthesis replayed. */
  private def mdOracleCte: String =
    """syn AS (
      |  SELECT doc_id,
      |         '# T' || doc_id || chr(10) ||
      |         CASE WHEN doc_id % 2 = 0
      |              THEN '- a' || chr(10) || '- b' || chr(10)
      |              ELSE '' END ||
      |         CASE WHEN doc_id % 3 = 0
      |              THEN '```python' || chr(10) || 'print(' || doc_id ||
      |                   ')' || chr(10) || '```' || chr(10)
      |              ELSE '' END ||
      |         CASE WHEN doc_id % 5 = 0
      |              THEN 'see [x](http://e.com)' || chr(10)
      |              ELSE '' END ||
      |         CASE WHEN doc_id % 4 = 0
      |              THEN '```' || chr(10) || 'plain ' || (doc_id % 7) ||
      |                   chr(10) || '```' || chr(10)
      |              ELSE '' END ||
      |         coalesce(text, '') AS text
      |  FROM documents)""".stripMargin

  /** q284/q285's oracle ground truth: every CDX field derived directly
    * from documents — never from the line — so the Spark regex+JSON
    * parse is checked against an independent derivation. */
  private def cdxBaseOracleCte: String =
    """base AS (
      |  SELECT 'com,' || source || ')/p' || doc_id AS urlkey,
      |         CAST(20250101000000 + doc_id % 86400 AS VARCHAR) AS ts,
      |         'https://' || source || '.com/p' || doc_id AS url,
      |         CAST(CASE WHEN doc_id % 5 = 0 THEN 404 ELSE 200 END
      |           AS INTEGER) AS status,
      |         md5(CAST(doc_id % 50 AS VARCHAR)) AS digest,
      |         CAST(n_chars AS BIGINT) AS length,
      |         CAST(doc_id * 1024 AS BIGINT) AS "offset",
      |         'crawl-' || (doc_id % 4) || '.warc.gz' AS filename
      |  FROM documents WHERE text IS NOT NULL)""".stripMargin

  /** q282/q283's oracle prelude: both unigram models, the grid-snapped
    * per-bucket log-ratio deltas, and the per-doc exact-integer weight
    * reduction — the dsirWeights pipeline replayed CTE by CTE. */
  private def dsirWeightsOracleCtes: String =
    """tt AS (
      |  SELECT unnest(list_filter(string_split(lower(text), ' '),
      |                t -> len(t) > 0)) AS token
      |  FROM documents WHERE text IS NOT NULL AND doc_id % 11 = 0),
      |rt AS (
      |  SELECT doc_id,
      |         unnest(list_filter(string_split(lower(text), ' '),
      |                t -> len(t) > 0)) AS token
      |  FROM documents WHERE text IS NOT NULL AND doc_id % 11 <> 0),
      |tb AS (SELECT ('0x' || substr(md5(token), 1, 8))::BIGINT % 32 AS b
      |       FROM tt),
      |rb AS (SELECT doc_id,
      |              ('0x' || substr(md5(token), 1, 8))::BIGINT % 32 AS b
      |       FROM rt),
      |tcnt AS (SELECT b, CAST(count(*) AS BIGINT) AS nt
      |         FROM tb GROUP BY 1),
      |docb AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS n
      |         FROM rb GROUP BY 1, 2),
      |rcnt AS (SELECT b, CAST(sum(n) AS BIGINT) AS nr
      |         FROM docb GROUP BY 1),
      |delta AS (
      |  SELECT coalesce(t.b, r.b) AS b,
      |         CAST(floor(ln(coalesce(t.nt, 0) + 1) * 1048576 + 0.5)
      |           AS BIGINT)
      |         - CAST(floor(ln(coalesce(r.nr, 0) + 1) * 1048576 + 0.5)
      |           AS BIGINT) AS d
      |  FROM tcnt t FULL OUTER JOIN rcnt r ON t.b = r.b),
      |consts AS (
      |  SELECT CAST(floor(ln(CAST((SELECT coalesce(sum(nt), 0) FROM tcnt)
      |             AS BIGINT) + 32) * 1048576 + 0.5) AS BIGINT)
      |       - CAST(floor(ln(CAST((SELECT coalesce(sum(n), 0) FROM docb)
      |             AS BIGINT) + 32) * 1048576 + 0.5) AS BIGINT) AS c0),
      |w0 AS (
      |  SELECT docb.doc_id, CAST(sum(docb.n) AS BIGINT) AS n_tokens,
      |         CAST(sum(docb.n * coalesce(delta.d, 0)) AS BIGINT) AS sd
      |  FROM docb LEFT JOIN delta USING (b) GROUP BY 1),
      |wt AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(sd - n_tokens * (SELECT c0 FROM consts) AS DOUBLE)
      |           / 1048576 AS weight
      |  FROM w0)""".stripMargin

  /** q74 oracle: Okapi BM25 end to end in SQL. The k1/b/(k1+1) constants
    * interpolate from the SAME Scala doubles the engine uses, so both
    * sides evaluate identical literals. */
  /** BM25 oracle CTE chain, name-prefixed so two runs (q146) can coexist
    * in one WITH clause; ends in `<prefix>scored(doc_id, score, n_terms)`
    * (unlimited — the caller ranks/limits). */
  private def bm25Ctes(prefix: String, terms: Seq[String]): String = {
    val k1 = 1.2; val b = 0.75
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""${prefix}toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split(lower(text), ' '),
       |                     t -> len(t) > 0) AS tk
       |  FROM documents WHERE text IS NOT NULL),
       |${prefix}stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |         avg(CAST(len(tk) AS DOUBLE)) AS avgdl FROM ${prefix}toks),
       |${prefix}tf AS (
       |  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl,
       |               unnest(tk) AS term FROM ${prefix}toks)
       |  WHERE term IN ($termList)
       |  GROUP BY doc_id, dl, term),
       |${prefix}df AS (
       |  SELECT term, CAST(count(*) AS DOUBLE) AS df
       |  FROM ${prefix}tf GROUP BY term),
       |${prefix}scored AS (
       |  SELECT doc_id,
       |         round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |               * tf * ${k1 + 1}
       |               / (tf + $k1 * (1.0 - $b + $b * dl / avgdl))), 6)
       |           AS score,
       |         count(*) AS n_terms
       |  FROM ${prefix}tf JOIN ${prefix}df USING (term)
       |  CROSS JOIN ${prefix}stats
       |  GROUP BY doc_id)""".stripMargin
  }

  private def bm25Oracle: String =
    s"""WITH ${bm25Ctes("", Bm25Terms)}
       |SELECT doc_id, score, n_terms FROM scored
       |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin

  /** q146 oracle: both BM25 runs replayed via [[bm25Ctes]], ranked and
    * truncated exactly as [[graft.text.TextOps.rrfFuse]] ranks its
    * inputs, fused with the same fixed-order double arithmetic. */
  private def rrfOracle: String =
    s"""WITH ${bm25Ctes("a_", Bm25Terms)},
       |${bm25Ctes("b_", RrfTermsB)},
       |r1 AS (
       |  SELECT * FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
       |             AS rank_1
       |    FROM a_scored) WHERE rank_1 <= 20),
       |r2 AS (
       |  SELECT * FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
       |             AS rank_2
       |    FROM b_scored) WHERE rank_2 <= 20)
       |SELECT coalesce(r1.doc_id, r2.doc_id) AS doc_id, rank_1, rank_2,
       |       coalesce(1.0::DOUBLE / (60 + rank_1), 0.0::DOUBLE)
       |         + coalesce(1.0::DOUBLE / (60 + rank_2), 0.0::DOUBLE)
       |         AS rrf_score,
       |       (CASE WHEN rank_1 IS NULL THEN 0 ELSE 1 END
       |        + CASE WHEN rank_2 IS NULL THEN 0 ELSE 1 END) AS n_runs
       |FROM r1 FULL JOIN r2 ON r1.doc_id = r2.doc_id
       |ORDER BY rrf_score DESC, doc_id LIMIT 25""".stripMargin

  /** q150's license CASE chain over an arbitrary lowercased text SQL
    * expression — the detectLicense regex ladder in the Java-regex ∩ RE2
    * subset, first match wins. */
  private def licenseCaseSql(tExpr: String): String =
    s"""CASE
       |  WHEN regexp_matches($tExpr, 'apache license') THEN 'apache-2.0'
       |  WHEN regexp_matches($tExpr, 'mit license') THEN 'mit'
       |  WHEN regexp_matches($tExpr, 'creative commons|cc-by')
       |    THEN 'cc-by'
       |  WHEN regexp_matches($tExpr,
       |    'gnu (general|lesser general|affero general) public license|\\bgpl')
       |    THEN 'gpl'
       |  WHEN regexp_matches($tExpr, 'all rights reserved')
       |    THEN 'proprietary'
       |  ELSE 'unknown' END""".stripMargin

  /** Shared oracle CTE chain ending in `q(doc_id, source, pr, mtl, sr,
    * ls, quality)` — TextOps.qualityScore's SQL form, used by q30 and
    * q75 so the formula cannot drift between them. */
  /** q219/q223 oracle prelude: per-doc interpolated Kneser-Ney NLL —
    * ends with `knll(doc_id, n_transitions, nll)`. */
  private def knNllCtes: String =
    """l AS (
      |  SELECT doc_id,
      |         list_filter(string_split(lower(text), ' '),
      |                     x -> len(x) > 0) AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |bg AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      |  FROM (SELECT doc_id, toks,
      |               unnest(generate_series(1, len(toks) - 1)) AS i
      |        FROM l)),
      |cbg AS (SELECT w1, w2, count(*) AS c_bg FROM bg GROUP BY 1, 2),
      |cw AS (SELECT w1, count(*) AS c_w1,
      |              count(DISTINCT w2) AS n1_fwd
      |       FROM bg GROUP BY 1),
      |cont AS (SELECT w2, count(*) AS n1_bwd FROM cbg GROUP BY 1),
      |nt AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM cbg),
      |knll AS (
      |  SELECT bg.doc_id, count(*) AS n_transitions,
      |    round(avg(-ln(
      |      greatest(CAST(c_bg AS DOUBLE) - 0.75, 0.0) / c_w1
      |        + 0.75 * CAST(n1_fwd AS DOUBLE) / c_w1
      |          * (CAST(n1_bwd AS DOUBLE) / n_types))), 6) AS nll
      |  FROM bg JOIN cbg USING (w1, w2) JOIN cw USING (w1)
      |          JOIN cont USING (w2) CROSS JOIN nt
      |  GROUP BY bg.doc_id)""".stripMargin

  private def qualityCtes: String =
    s"""f AS (
       |  SELECT doc_id, source,
       |         CASE WHEN len(text) > 0 THEN
       |           CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / len(text)
       |         ELSE 0.0 END AS pr,
       |         CASE WHEN len(string_split(text, ' ')) > 0 THEN
       |           CAST(list_sum(list_transform(string_split(text, ' '), t -> len(t))) AS DOUBLE)
       |           / len(string_split(text, ' '))
       |         ELSE 0.0 END AS mtl,
       |         CASE WHEN len(string_split(lower(text), ' ')) > 0 THEN
       |           CAST(len(list_filter(string_split(lower(text), ' '),
       |                t -> t IN ($enStopList))) AS DOUBLE)
       |           / len(string_split(lower(text), ' '))
       |         ELSE 0.0 END AS sr,
       |         least(CAST(len(text) AS DOUBLE) / 500.0, 1.0) AS ls
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, source, pr, mtl, sr, ls,
       |         greatest(0.0, least(1.0,
       |           ls * 0.4 + least(sr * 4, 1.0) * 0.4 +
       |           (1.0 - least(pr * 5, 1.0)) * 0.2)) AS quality
       |  FROM f)""".stripMargin

  /** q90 oracle: [[qualityCtes]] joined back for the per-source card. */
  private def datasetCardOracle: String =
    s"""WITH $qualityCtes
       |SELECT d.source, count(*) AS docs,
       |       CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS tokens,
       |       CAST(sum(len(d.text)) AS BIGINT) / (count(d.text) * 1.0)
       |         AS avg_chars,
       |       CAST(count(DISTINCT d.lang) AS BIGINT) AS langs,
       |       round(avg(q.quality), 6) AS avg_quality
       |FROM documents d JOIN q USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** q75 oracle: [[qualityCtes]] + per-source exact 20th-percentile
    * gate. */
  private def adaptiveGateOracle: String =
    s"""WITH $qualityCtes,
       |thr AS (
       |  SELECT source AS g, quantile_cont(quality, 0.2) AS thr
       |  FROM q GROUP BY source)
       |SELECT q.doc_id, q.source, round(q.quality, 6) AS quality
       |FROM q JOIN thr ON q.source = thr.g
       |WHERE q.quality >= thr.thr
       |ORDER BY q.doc_id""".stripMargin
}
