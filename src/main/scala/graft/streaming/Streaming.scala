package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming-compatible shapes of the engine's windowed operators
  * (SURVEY.md §2.10 — an engine extension; the reference is batch-only,
  * /root/reference/filtering_data.py:126-221 et al are one-shot CLIs).
  *
  * The same column expressions serve batch and streaming: pass a
  * `readStream` DataFrame and these return an unstarted streaming frame;
  * pass a batch frame and they behave like their `graft.ops` equivalents.
  */
object Streaming {

  /** A3/A4 streaming form: tumbling-window outlier-fraction categorize with
    * a watermark for state eviction (late rows beyond `watermark` are
    * dropped instead of growing state forever — the 100 TB stream
    * posture). */
  def windowCategorize(stream: DataFrame, tsCol: String, valueCol: String,
                       lo: Double, hi: Double,
                       keyCols: Seq[String] = Nil,
                       binMinutes: Int = 5,
                       watermark: String = "10 minutes"): DataFrame = {
    val outlier = graft.ops.Acc.outlierFlag(col(valueCol), lit(lo), lit(hi))
    stream
      .withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), s"$binMinutes minutes") +:
        keyCols.map(col)): _*)
      .agg((avg(outlier) * 100).as("outlier_pct"),
        count(lit(1)).as("n"))
      .select((Seq(col("window.start").as("start_time"),
        col("window.end").as("end_time")) ++ keyCols.map(col) ++ Seq(
        graft.ops.Acc.categoryOf(col("outlier_pct")).as("category"),
        col("outlier_pct"), col("n"))): _*)
  }

  /** STAGE-1 of [[graft.pipeline.Pipelines.curate]] as a STREAMING
    * composition — the ingest-edge gates that are pure per-row work and
    * therefore watermark-free (no aggregation, no state): C4 line
    * cleanup (as HOF COLUMNS, not the batch operator's join — the same
    * rules, streaming-safe), heuristic language gate, quality floor,
    * encoding-damage gate, compression floor, blocklist gate, license
    * allow-list. Everything downstream of stage 1 (dedup, caps,
    * decontamination, splits) is corpus-global and stays batch — run
    * this at the ingest edge, land the survivors, and curate the landed
    * corpus.
    *
    * Pass a batch frame and it applies the identical gates (the parity
    * StreamingSpec asserts equality with `curate`'s stage-1 survivor
    * set knob-for-knob). `n_chars`, when present, is refreshed after
    * the C4 rewrite, matching curate.
    *
    * Deliberately NOT here: `curate`'s canonical-URL collapse — that
    * stage groups rows on the canonical key (a window, i.e. state),
    * which this watermark-free row-gate composition cannot hold;
    * [[curateForeachBatch]] carries it per micro-batch instead. */
  def curateStage1(stream: DataFrame, minQuality: Double = 0.3,
                   lang: String = "en",
                   blockWords: Option[Seq[String]] = None,
                   maxBlocklistFraction: Double = 0.0,
                   dropDamaged: Boolean = false,
                   c4Lines: Boolean = false,
                   minCompressionRatio: Option[Double] = None,
                   allowLicenses: Option[Seq[String]] = None,
                   textCol: String = "text",
                   unicodeNfc: Boolean = false,
                   fixEncoding: Boolean = false): DataFrame = {
    import graft.text.TextOps
    val t0 = col(textCol)
    // the batch curate's opt-in repair + canonicalization, mirrored so
    // the streaming gate digests the SAME bytes (batch ≡ streaming
    // parity); repair BEFORE NFC, matching curate
    val pre0 =
      if (!fixEncoding) stream
      else stream.withColumn(textCol, TextOps.fixMojibake(col(textCol)))
    val pre =
      if (!unicodeNfc) pre0
      else pre0.withColumn(textCol, TextOps.nfcNormalize(col(textCol)))
    val base = pre.filter(t0.isNotNull)
    val c4ed =
      if (!c4Lines) base
      else {
        // TextOps.c4LineFilter's rules: kept lines rejoined, lorem-ipsum/
        // brace docs and zero-keep docs dropped
        val rewritten = base.filter(!TextOps.c4DropsDoc(t0))
          .withColumn(textCol, array_join(TextOps.c4KeptLines(t0), "\n"))
          .filter(length(col(textCol)) > 0)
        if (rewritten.columns.contains("n_chars"))
          rewritten.withColumn("n_chars",
            length(col(textCol)).cast("long"))
        else rewritten
      }
    val t = col(textCol) // post-rewrite text
    val langGated = c4ed.filter(TextOps.langIdEn(t) === lang)
    val quality = langGated.filter(TextOps.qualityScore(t) >= minQuality)
    val damage =
      if (!dropDamaged) quality
      else {
        def stripped(p: String) = length(t) - length(regexp_replace(t, p, ""))
        quality.filter(stripped("\uFFFD") === 0 &&
          stripped("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]") === 0)
      }
    val compressed = minCompressionRatio
      .map(m => damage.filter(TextOps.compressionRatio(t) >= lit(m)))
      .getOrElse(damage)
    val safe = blockWords
      .map(ws => compressed.filter(
        TextOps.blocklistFraction(t, ws) <= lit(maxBlocklistFraction)))
      .getOrElse(compressed)
    allowLicenses
      .map(ls => safe.filter(TextOps.detectLicense(t).isin(ls: _*)))
      .getOrElse(safe)
  }

  /** STREAMING near-dup DETECTIONS against a stored signature index
    * ([[graft.dedup.Dedup.SignatureIndex]]) — the ingest-edge half of
    * the continuous-crawl gate: each incoming doc is signed and banded
    * map-side, band keys probe the (static, bucketed) index via
    * stream-static joins, and every candidate whose signature-estimated
    * Jaccard clears `minJaccard` emits one append-mode row
    * (doc id, matched corpus id, est_jaccard). Row-level work only — no
    * streaming aggregation, no watermark, no state.
    *
    * DELIBERATELY detections, not the filtered stream: turning this
    * into the batch gate's anti-join would need a stream-stream
    * self-join (unsupported for left_anti) or a doc-keyed aggregation
    * (needs event-time watermarks the ingest edge may not have). The
    * landing job anti-joins the sink's flagged ids — one digest-keyed
    * batch join — which also keeps the drop auditable. Parity:
    * StreamingSpec asserts the detection id-set equals exactly the ids
    * [[graft.dedup.Dedup.incrementalNewFuzzyIndexed]] drops on the same
    * batch. Build parameters MUST match the index's. */
  def fuzzyIndexDetections(stream: DataFrame,
                           index: graft.dedup.Dedup.SignatureIndex,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           shingleN: Int = 3,
                           minJaccard: Double = 0.5,
                           numHashes: Int = 64, bands: Int = 16,
                           portable: Boolean = false): DataFrame = {
    import graft.dedup.Dedup
    val sigs = stream.filter(col(textCol).isNotNull)
      .select(col(idCol).as("bid"),
        graft.functions.HashExpressions.minhashSignature(
          graft.text.TextOps.shingles(col(textCol), shingleN),
          numHashes, portable).as("sig_b"))
      .filter(col("sig_b").isNotNull)
    val banded = sigs.select(col("bid"), col("sig_b"),
      explode(Dedup.sigBandKeys(col("sig_b"), numHashes, bands, portable))
        .as("band_key"))
    banded
      .join(index.bands, Seq("band_key")) // stream-static
      .join(index.sigs.select(col("id"), col("sig").as("sig_c")),
        Seq("id")) // stream-static
      .select(col("bid").as(idCol), col("id").as("matched_id"),
        (size(filter(zip_with(col("sig_c"), col("sig_b"),
            (x, y) => x === y), b => b))
          .cast("double") / lit(numHashes)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
    // NOTE: a pair colliding in several bands emits once per band — a
    // streaming dropDuplicates here would grow unbounded state (no
    // watermark at the ingest edge). The landing anti-join is
    // insensitive to duplicates; batch callers `.distinct()`.
  }

  /** The DEPLOYED streaming ingest gate — the `foreachBatch`
    * composition [[fuzzyIndexDetections]] deliberately is not: per
    * micro-batch, (1) apply the caller's stage-1 row gates, (2) run the
    * BATCH near-dup gate [[graft.dedup.Dedup.incrementalNewFuzzyIndexed]]
    * against the stored index (re-read each batch, so appends and
    * tombstones from other writers are visible), (3) append the
    * SURVIVORS' signatures back to the index, (4) land the survivors in
    * the parquet sink. State is carried by the INDEX, not by streaming
    * state: batch N+1 near-dups against every survivor batch N landed —
    * no stream-stream join, no watermark, restart-safe through the
    * checkpoint (a replayed batch re-gates against an index that
    * already holds its survivors; the landing sink may then hold
    * duplicate rows for the replayed ids — dedup-on-read by id, the
    * standard at-least-once parquet posture).
    *
    * Within-batch near-dup pairs both pass (the gate compares to the
    * index, not batch-to-itself) — identical to the batch ingest loop's
    * semantics; run the corpus-global dedup over the landed table on
    * its own cadence. Build parameters MUST match the index's.
    *
    * `exactSubstrIndex` (optional) composes the EXACT-substring gate
    * after the fuzzy one: fuzzy survivors are additionally gated by
    * [[graft.dedup.Dedup.incrementalNewExactSubstr]] against the named
    * stored GRAM index (any-offset span >= `exactSubstrMinLen` shared
    * with the landed corpus — or with a lower-id doc of the same batch —
    * drops the doc), and the final survivors' grams append back via
    * [[graft.dedup.Dedup.appendToGramIndex]]. The gram index must exist
    * ([[graft.dedup.Dedup.writeGramIndex]]) with the same `minLen`. */
  def curateForeachBatch(stream: DataFrame, indexName: String,
                         sinkPath: String, checkpoint: String,
                         buckets: Int = 64,
                         idCol: String = "doc_id",
                         textCol: String = "text",
                         shingleN: Int = 3, minJaccard: Double = 0.5,
                         numHashes: Int = 64, bands: Int = 16,
                         portable: Boolean = false,
                         stage1: DataFrame => DataFrame = identity,
                         exactSubstrIndex: Option[String] = None,
                         exactSubstrMinLen: Int = 40,
                         exactSubstrBuckets: Int = 64,
                         canonicalCollapse: Boolean = false,
                         urlCol: String = "url",
                         htmlCol: String = "html",
                         canonicalIndexPath: Option[String] = None,
                         pplRef: Option[DataFrame] = None,
                         pplMaxNll: Double = 12.0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(canonicalIndexPath.isEmpty || canonicalCollapse,
      "canonicalIndexPath needs canonicalCollapse = true (the index " +
        "stores the keys that stage computes)")
    // the reference-LM perplexity gate's model trains ONCE at stream
    // setup (the ref corpus is static) and persists — per-batch
    // scoring then reads the cached vocab-sized tables
    val pplLm = pplRef.map { ref =>
      val m = graft.text.TextOps.bigramLmTrain(ref)
      graft.text.TextOps.BigramLm(
        m.bigrams.persist(), m.unigrams.persist(), m.vocabSize)
    }
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val sess = batch.sparkSession
        val gatedS1 = stage1(batch.toDF())
        // the batch curate's perplexity gate, mirrored: survivors
        // above pplMaxNll under the stream-setup LM drop; docs with
        // no bigram evidence pass (the no-evidence-no-drop convention)
        val gated0 = pplLm match {
          case None => gatedS1
          case Some(m) =>
            val tooHigh = graft.text.TextOps
              .bigramNllRef(gatedS1, m, idCol, textCol)
              .filter(col("nll") > pplMaxNll).select(idCol)
            gatedS1.join(tooHigh, Seq(idCol), "left_anti")
        }
        // the batch curate's opt-in mirror collapse, mirrored here
        // (NOT in curateStage1: the collapse is a grouping on the
        // canonical key, which a pure row-gate stage cannot hold —
        // foreachBatch runs batch semantics, so the window is fine).
        // Within-batch always; with `canonicalIndexPath` also
        // CROSS-batch: the stored canonical table plays the digest
        // table's role (chatGateForeachBatch), anti-joining mirrors of
        // earlier batches' survivors BEFORE any text work — a mirror
        // with a live ad rotation differs in content, so the
        // signature gate below alone would not catch it
        val (gated, batchCanonicals) =
          if (!canonicalCollapse) (gated0, None)
          else {
            val cd = graft.text.UrlOps.canonicalDedup(gated0, urlCol,
                htmlCol, idCol)
              .filter(col("keep") === 1).drop("keep")
            val crossGated = canonicalIndexPath match {
              case None => cd
              case Some(pth) =>
                val hp = new org.apache.hadoop.fs.Path(pth)
                val fs = hp.getFileSystem(
                  sess.sparkContext.hadoopConfiguration)
                if (!fs.exists(hp)) cd
                else cd.join(
                  sess.read.parquet(pth).select(col("canonical")),
                  Seq("canonical"), "left_anti")
            }
            // the (id, canonical) side frame feeds the post-landing
            // append; its lineage stops at the batch window — it never
            // reads the stored table, so the append is not
            // self-referential
            (crossGated.drop("canonical"),
              Some(cd.select(col(idCol), col("canonical"))))
          }
        val idx = graft.dedup.Dedup.readSignatureIndex(sess, indexName)
        val fuzzySurv = graft.dedup.Dedup.incrementalNewFuzzyIndexed(
          gated, idx, idCol, textCol, shingleN, minJaccard, numHashes,
          bands, portable)
        val survivors = exactSubstrIndex
          .fold(fuzzySurv)(g => graft.dedup.Dedup
            .incrementalNewExactSubstr(fuzzySurv, g, idCol, textCol,
              exactSubstrMinLen))
          .persist() // consumed by sink + append(s)
        try {
          // ORDER MATTERS: land first, append second. The append writes
          // the index tables the survivor plan READS, and Spark
          // invalidates dependent caches on a table write — appending
          // first would make the sink write recompute the gate against
          // the just-grown index and drop every survivor as a near-dup
          // of itself (observed in spec). Landing first keeps both
          // consumers on the pre-append index view; a crash between the
          // two replays the batch (at-least-once landing, documented
          // above) and the append then reconciles. Among the appends,
          // the GRAM append goes first: the signature append writes the
          // sig tables the survivor plan reads (the gram gate's drop set
          // is lineage-cut by its localCheckpoint, so the gram write
          // invalidates nothing the plan still needs).
          survivors.write.mode("append").parquet(sinkPath)
          // canonical append: FINAL survivors' keys only (a doc the
          // fuzzy/substring gates dropped must not block its mirror
          // later — that mirror may be the copy worth keeping). A
          // replayed batch may append duplicate keys; the gate joins
          // semi/anti, so duplicates are harmless
          (canonicalIndexPath, batchCanonicals) match {
            case (Some(pth), Some(cf)) =>
              cf.join(survivors.select(col(idCol)), Seq(idCol),
                  "left_semi")
                .select(col("canonical")).distinct()
                .write.mode("append").parquet(pth)
            case _ => ()
          }
          exactSubstrIndex.foreach(g => graft.dedup.Dedup
            .appendToGramIndex(survivors, g, exactSubstrBuckets, idCol,
              textCol, exactSubstrMinLen))
          graft.dedup.Dedup.appendToSignatureIndex(survivors, indexName,
            buckets, idCol, textCol, shingleN, numHashes, bands,
            portable)
        } finally survivors.unpersist(false)
        ()
      }
      .start()
  }

  /** STREAMING ANN INGEST — the stored binary-IVF serving loop's
    * ingest half ([[graft.ml.Similarity.binaryIvfTopKStored]] is the
    * query half): per micro-batch of (id, vector) rows, NEW ids
    * assign to the FROZEN centroids and dynamic-partition-append into
    * the cluster-partitioned corpus
    * ([[graft.ml.Similarity.appendToIvfIndex]] — schema-aware, so a
    * binary-coded corpus quantizes the batch automatically) and the
    * next stored probe serves them with no rebuild.
    *
    * IDEMPOTENT ingest (the duplicate-append hazard the canonical
    * index solves for keys, solved here for vectors): before
    * appending, the batch anti-joins the ids ALREADY STORED in the
    * clusters it lands in — a partition-pruned, id-column-only read,
    * bounded by the touched clusters — so a replayed batch (crash
    * recovery; at-least-once sources) appends ZERO rows instead of
    * duplicate vectors, and serving needs no dedup-on-read. Optional
    * `logPath` lands one row per (batch, cluster) with appended count
    * and mean assignment similarity — [[graft.ml.Similarity
    * .centroidDrift]]'s cheap streaming signal (mean sim sliding down
    * batch-over-batch means the frozen centroids no longer fit).
    *
    * Batch cost: one broadcast-kernel assignment pass (map-only), one
    * ≤k-row cluster collect, the pruned id anti-join, and the
    * partition append. Vectors shuffle only into their cluster
    * directories; the corpus is never rewritten. */
  def annIngestForeachBatch(stream: DataFrame, corpusPath: String,
      centroids: Seq[(Long, Array[Double])], checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = graft.ml.Similarity.DefaultDim,
      logPath: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(centroids.nonEmpty, "centroids must not be empty")
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val sess = batch.sparkSession
        import graft.ml.Similarity
        // duplicate ids WITHIN a micro-batch would both pass the
        // corpus anti-join and both append — dedupe first (ties by
        // arrival are arbitrary under the same-id-same-vector
        // idempotency contract anyway)
        val rows = batch.toDF().dropDuplicates(idCol)
        // touched clusters: map-only assignment, ≤k distinct rows move
        val touched = Similarity.assignToCentroids(rows, centroids,
            idCol, vecCol, dim)
          .select("cluster").distinct()
          .collect().map(_.get(0)).toSeq
        val hp = new org.apache.hadoop.fs.Path(corpusPath)
        val fs = hp.getFileSystem(sess.sparkContext.hadoopConfiguration)
        // a batch id that sits on the tombstone list is a RE-INGEST:
        // clear its tombstone BEFORE the idempotency anti-join (under
        // the same-id-same-vector contract the resurrected row IS the
        // batch's content, so the anti-join then rightly skips the
        // re-append; previously the raw-corpus anti-join silently
        // swallowed the vector and it stayed deleted forever). The
        // sidecar rewrite is takedown-list-sized and swap-committed.
        if (fs.exists(hp))
          Similarity.clearIvfTombstones(sess, corpusPath, rows, idCol)
        val fresh =
          if (!fs.exists(hp) || touched.isEmpty) rows
          else rows.join(
            Similarity.readIvfCorpus(sess, corpusPath, idCol)
              .filter(col("cluster").isInCollection(touched))
              .select(col(idCol)),
            Seq(idCol), "left_anti")
        // the append itself runs eagerly inside appendToIvfIndex; the
        // returned report only computes when a log sink wants it
        val report = Similarity.appendToIvfIndex(corpusPath, fresh,
            centroids, idCol, vecCol, dim)
          .withColumn("batch_id", lit(batchId))
        // drift log lands EXACTLY-ONCE per batch (the
        // annServeForeachBatch convention): an at-least-once replay
        // rewrites its own batch_id partition instead of appending a
        // duplicate row set that would skew the drift signal
        logPath.foreach(pth =>
          report.write.mode("overwrite")
            .parquet(s"$pth/batch_id=$batchId"))
        ()
      }
      .start()
  }

  /** STREAMING ANN SERVING — the QUERY half closing
    * [[annIngestForeachBatch]]'s loop: per micro-batch of (q_id,
    * q_vec) rows, run the batched stored binary-IVF probe
    * ([[graft.ml.Similarity.binaryIvfTopKBatch]] — one partition-
    * pruned scan of the union of probed clusters, per-query Hamming
    * candidates, exact-cosine rerank) and land (q_id, rk, id, cosine,
    * batch_id) under `resultsPath/batch_id=N`. EXACTLY-ONCE via the
    * per-batch overwrite (the exportForeachBatch convention): a
    * replayed batch rewrites its own directory byte-for-byte.
    * `centroids` should be a small cached/stored frame — it is read
    * every batch. */
  def annServeForeachBatch(stream: DataFrame, corpusPath: String,
      centroids: DataFrame, resultsPath: String, checkpoint: String,
      k: Int, qIdCol: String = "q_id", qVecCol: String = "q_vec",
      nProbe: Int = 2, rerankK: Int = 0,
      dim: Int = graft.ml.Similarity.DefaultDim)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(k > 0, "k must be positive")
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val res = graft.ml.Similarity.binaryIvfTopKBatch(
          batch.sparkSession, corpusPath, centroids, batch.toDF(), k,
          qIdCol = qIdCol, qVecCol = qVecCol, nProbe = nProbe,
          rerankK = rerankK, dim = dim)
        res.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .parquet(s"$resultsPath/batch_id=$batchId")
        ()
      }
      .start()
  }

  /** STREAMING SFT-INGEST GATE — [[curateForeachBatch]]'s post-training
    * sibling: per micro-batch of conversations, (1) the E8 structure
    * gates ([[graft.ops.Chat.conversationStats]] — turn floor, strict
    * alternation, user-start), (2) within-batch exact dedup (keep-first
    * on the normalized rendered digest, [[graft.ops.Chat
    * .dedupConversations]]), (3) a digest anti-join against the STORED
    * digest table — the state that survives across batches and
    * restarts — then land survivors (id, rendered, digest) and append
    * their digests. Exact-match gating only (the conversation analog of
    * the md5 `incrementalNew` path): near-dup chat gating composes the
    * fuzzy index exactly as curateForeachBatch does. Same ordering
    * contract: LAND first, append digests second; a crash between the
    * two replays the batch (at-least-once landing — dedup-on-read by
    * id). Batch cost: map-only gates + one digest window + one
    * digest-keyed anti-join; conversation text never shuffles (the
    * digest window moves rendered strings once, inside the batch). */
  def chatGateForeachBatch(stream: DataFrame, digestPath: String,
                           sinkPath: String, checkpoint: String,
                           idCol: String = "doc_id",
                           turnsCol: String = "turns",
                           requireAlternating: Boolean = true,
                           requireUserStart: Boolean = true,
                           minTurns: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val sess = batch.sparkSession
        import graft.ops.Chat
        val stats = Chat.conversationStats(batch.toDF(), idCol, turnsCol)
          .filter(col("n_turns") >= minTurns)
          .filter(if (requireAlternating) col("alternates") === 1
            else lit(true))
          .filter(if (requireUserStart) col("starts_with_user") === 1
            else lit(true))
        val gated = batch.toDF().join(stats.select(col(idCol)), idCol)
        val inBatch = Chat.dedupConversations(gated, idCol, turnsCol)
          .filter(col("keep") === 1)
          .select(col(idCol), col("rendered"), col("digest"))
        val hPath = new org.apache.hadoop.fs.Path(digestPath)
        val hadoopFs =
          hPath.getFileSystem(sess.sparkContext.hadoopConfiguration)
        val prior =
          if (hadoopFs.exists(hPath)) sess.read.parquet(digestPath)
          else sess.emptyDataFrame
            .withColumn("digest", lit(null).cast("string"))
        val survivors = inBatch
          .join(prior.select(col("digest")), Seq("digest"), "left_anti")
          .persist()
        try {
          survivors.select(col(idCol), col("rendered"), col("digest"))
            .write.mode("append").parquet(sinkPath)
          survivors.select(col("digest"))
            .write.mode("append").parquet(digestPath)
        } finally survivors.unpersist(false)
        ()
      }
      .start()

  /** STREAMING WARC → documents: the crawl-to-curated FRONT DOOR.
    * Common Crawl drops land as files in a directory; this is a
    * `binaryFile` file-source stream over that directory
    * ([[graft.io.Warc.recordsDecodedStream]] — each newly-arrived
    * archive decoded exactly once, charset-aware, per-record
    * incremental parse) shaped into the documents contract by the SAME
    * map-only shaper the batch `ingestWarc(decodeCharset = true)` path
    * uses ([[graft.pipeline.Pipelines.shapeDecodedWarc]]). Pipe the
    * result into [[curateForeachBatch]] and the whole
    * crawl → decode → gate → incremental near-dup → landed-corpus
    * chain runs continuously, state carried by the stored signature
    * index — closing the loop the batch ingest leaves to a scheduler.
    * Map-only end to end: archive bytes never shuffle; only decoded
    * text flows on. */
  def warcDocStream(spark: SparkSession, path: String,
                    types: Seq[String] = Seq("conversion", "response"),
                    extractHtml: Boolean = false,
                    okStatusOnly: Boolean = false,
                    contentTypes: Option[Seq[String]] = None,
                    metaProbeBytes: Int = 1024): DataFrame =
    graft.pipeline.Pipelines.shapeDecodedWarc(
      graft.io.Warc.recordsDecodedStream(spark, path, metaProbeBytes),
      types, extractHtml, okStatusOnly, contentTypes)

  /** ONLINE ARENA LEADERBOARD — the live-eval sibling of the batch
    * [[graft.ops.Chat.arenaLeaderboard]] (q268), built on the stored-
    * state pattern of [[chatGateForeachBatch]]: per micro-batch of
    * matches, (1) reduce the batch to its SUFFICIENT STATISTICS — the
    * symmetric (i, j, n) opponent counts, (model, wins) Bradley-Terry
    * win totals, and (model, n_games, wins) decided-game counts, the
    * exact same filters as the batch builders — and fold them into the
    * stored state under `statePath`; (2) refit the |models|²-sized MM
    * loop + Wilson intervals from the ACCUMULATED state
    * ([[graft.ops.Chat.arenaLeaderboardFromState]]) and rewrite the
    * leaderboard at `leaderboardPath`. Match payloads never persist —
    * the state is additive integers, so the rewritten leaderboard
    * equals the batch fit over every match ever seen, bit for bit
    * (StreamingSpec pins two micro-batches ≡ one batch run).
    *
    * Exactly-once folding: each batch's deltas land in a
    * `batch_id=<id>` partition via dynamic partition overwrite, so a
    * replayed micro-batch (foreachBatch is at-least-once) overwrites
    * ITS OWN partition instead of double-counting. Per-batch cost:
    * one partial-agged count over the batch + a state read of
    * |batches|·|models|²-ish count rows (tiny; run
    * [[compactArenaState]] on a maintenance cadence — it folds the
    * committed partitions into one summed `batch_id = -1` partition,
    * keeping the latest live partition for replay safety) + the
    * fixed-size refit. */
  def arenaLeaderboardForeachBatch(stream: DataFrame, statePath: String,
                                   leaderboardPath: String,
                                   checkpoint: String,
                                   aCol: String = "model_a",
                                   bCol: String = "model_b",
                                   winnerCol: String = "winner",
                                   iterations: Int = 2,
                                   z: Double = 1.96)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val sess = batch.sparkSession
        val b = batch.toDF()
        // batch sufficient statistics — the Chat batch-builder filters
        val m = b.filter(col(aCol).isNotNull && col(bCol).isNotNull &&
            col(winnerCol).isNotNull && col(aCol) =!= col(bCol))
          .select(col(aCol).as("a"), col(bCol).as("b"),
            col(winnerCol).as("w"))
        val pairsDelta = m.select(col("a").as("i"), col("b").as("j"))
          .union(m.select(col("b").as("i"), col("a").as("j")))
          .groupBy("i", "j").agg(count(lit(1)).as("n"))
        val winsDelta = m.groupBy(col("w").as("model"))
          .agg(count(lit(1)).as("wins"))
        val md = m.filter(col("w") === col("a") || col("w") === col("b"))
        val gamesDelta = md.select(col("a").as("model"), col("w"))
          .union(md.select(col("b").as("model"), col("w")))
          .groupBy("model")
          .agg(count(lit(1)).as("n_games"),
            sum(when(col("w") === col("model"), 1L).otherwise(0L))
              .as("wins"))
        def landDelta(df: DataFrame, dir: String): Unit =
          df.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(s"$statePath/$dir")
        landDelta(pairsDelta, "pairs")
        landDelta(winsDelta, "wins")
        landDelta(gamesDelta, "games")
        // an empty delta writes NO part files (dynamic partition
        // overwrite of zero rows lands nothing) — on the very first
        // batches a state dir can hold no parquet at all (e.g. an
        // all-ties batch leaves games/ empty), and a bare read.parquet
        // would throw "Unable to infer schema" and kill the query. Skip
        // the refit until every state dir has data (mirrors the
        // hadoopFs.exists guard in chatGateForeachBatch); the
        // leaderboard stays at its previous contents, which is also the
        // right answer — no decisive game has been observed yet.
        if (Seq("pairs", "wins", "games")
            .forall(d => dirHasParquet(sess, s"$statePath/$d"))) {
          // refit from the ACCUMULATED state (never from the stream)
          val pairs = sess.read.parquet(s"$statePath/pairs")
            .groupBy("i", "j").agg(sum("n").as("n"))
          val wins = sess.read.parquet(s"$statePath/wins")
            .groupBy("model").agg(sum("wins").as("wins"))
          val games = sess.read.parquet(s"$statePath/games")
            .groupBy("model").agg(sum("n_games").as("n_games"),
              sum("wins").as("wins"))
          graft.io.Writers.publishParquet(
            graft.ops.Chat.arenaLeaderboardFromState(pairs, wins, games,
              iterations, z), leaderboardPath)
        }
        ()
      }
      .start()

  /** Does a directory hold at least one parquet part file? The guard
    * both the arena refit and [[compactArenaState]] need: a dynamic
    * partition overwrite of ZERO rows lands nothing, so a state dir can
    * exist with no data and a bare read.parquet would throw "Unable to
    * infer schema". */
  private[streaming] def dirHasParquet(
      sess: org.apache.spark.sql.SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(sess.sparkContext.hadoopConfiguration)
    fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
  }

  /** Compact the [[arenaLeaderboardForeachBatch]] state — the
    * maintenance step its scaladoc promises: every micro-batch adds a
    * `batch_id` partition to pairs/wins/games, so a long-running arena
    * accretes |batches| partitions whose per-refit read cost grows
    * without bound. This folds all COMMITTED per-batch deltas into one
    * summed partition at `batch_id = -1` (a real foreachBatch id is
    * never negative, so future dynamic overwrites cannot collide with
    * it) while keeping the HIGHEST live batch_id partition verbatim:
    * foreachBatch is at-least-once and only the latest batch can
    * replay after a restart — its replay must keep overwriting ITS OWN
    * partition, never find its counts already folded (double-count).
    * Earlier batches are checkpoint-committed by the time a later one
    * exists. Swap discipline per dir: write `<dir>_compact_tmp`,
    * rename dir out to `<dir>_compact_bak`, rename tmp in, drop the
    * backup — a crash before the first rename leaves the state
    * untouched; a FAILED second rename restores the backup before
    * throwing ([[swapCompacted]]); only a hard crash inside the
    * two-rename window needs the `_bak` renamed back by hand (the
    * [[graft.dedup.Dedup.compactSignatureIndex]]
    * convention). Run between batches (the refit reads these dirs);
    * the leaderboard a post-compaction refit produces is bit-identical
    * — summing the folded sums is the same total (spec-pinned). */
  def compactArenaState(sess: org.apache.spark.sql.SparkSession,
                        statePath: String): Unit = {
    val hadoopConf = sess.sparkContext.hadoopConfiguration
    def compactDir(name: String, keys: Seq[String],
                   sums: Seq[String]): Unit = {
      val dir = s"$statePath/$name"
      if (!dirHasParquet(sess, dir)) return
      // partition-column inference types small batch_id values INT on
      // read-back; normalize so the -1 literal and comparisons agree
      val cur = sess.read.parquet(dir)
        .withColumn("batch_id", col("batch_id").cast("long"))
      val maxBatch = cur.agg(max("batch_id")).head().getLong(0)
      val fold = cur.filter(col("batch_id") < maxBatch)
      val folded = fold
        .groupBy(keys.map(col): _*)
        .agg(sums.map(c => sum(c).as(c)).head,
          sums.map(c => sum(c).as(c)).tail: _*)
        .withColumn("batch_id", lit(-1L))
      val kept = cur.filter(col("batch_id") === maxBatch)
      val tmp = s"${dir}_compact_tmp"
      val bak = s"${dir}_compact_bak"
      val fs = new org.apache.hadoop.fs.Path(statePath)
        .getFileSystem(hadoopConf)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      folded.select(kept.columns.map(col): _*).unionByName(kept)
        .write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
      swapCompacted(fs, dir, tmp, bak)
    }
    compactDir("pairs", Seq("i", "j"), Seq("n"))
    compactDir("wins", Seq("model"), Seq("wins"))
    compactDir("games", Seq("model"), Seq("n_games", "wins"))
  }

  /** ONLINE TRAINING-LOSS AUDIT — the streaming sibling of the batch
    * [[graft.ops.Training.lossTrajectories]] (q287), on the stored-
    * state pattern of [[arenaLeaderboardForeachBatch]]: a training run
    * emits (doc, step, loss_milli) telemetry continuously; per
    * micro-batch (1) reduce the batch to its per-doc OLS sufficient
    * statistics ([[graft.ops.Training.lossStateSums]] — six LONG sums
    * plus step-carried endpoints, additive by construction) and land
    * them in a `batch_id=<id>` partition (dynamic partition overwrite:
    * an at-least-once replay overwrites ITS OWN partition, never
    * double-counts); (2) fold the accumulated partitions
    * ([[graft.ops.Training.mergeLossStates]]) and rewrite the
    * classified audit at `auditPath` — bit-equal to the batch audit
    * over every telemetry row ever seen (StreamingSpec pins two
    * micro-batches ≡ one batch run). Loss payloads never accumulate:
    * state is |docs-seen| rows regardless of steps logged. Run
    * [[compactLossState]] on a maintenance cadence to fold committed
    * per-batch partitions into one `batch_id = -1` partition. */
  /** Streaming PCA MOMENT maintenance — the incremental co-moment
    * state ([[graft.ml.Pca.appendMoments]]) as a foreachBatch sink:
    * each micro-batch lands its ONE moment row partitioned by
    * batch_id (dynamic overwrite → replays idempotent, the loss-state
    * convention), then the corpus-wide model refits from the
    * |batches|-row state and a (mean, eigenvalues, components) summary
    * lands at modelPath. Per-batch cost: one batch-only aggregation
    * plus a dim×dim driver Jacobi — independent of corpus size. */
  def momentsForeachBatch(stream: DataFrame, statePath: String,
                          modelPath: String, checkpoint: String,
                          k: Int, dim: Int = 64,
                          vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val sess = batch.sparkSession
        val dir = s"$statePath/pca_moments"
        import sess.implicits._
        // ONE row by construction (global agg) — collect it once, so
        // the no-contribution batch is known BEFORE any state write
        // and the model is not needlessly re-fit/re-written (a
        // concurrent model reader would see a half-overwritten dir)
        val m = graft.ml.Pca.momentsOf(batch.toDF(), dim, vecCol).head()
        if (m.getLong(0) > 0) {
          Seq((m.getLong(0), m.getSeq[Double](1).toSeq,
            m.getSeq[Double](2).toSeq)).toDF("n", "s", "p")
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(dir)
          val total = sess.read.parquet(dir)
            .agg(sum("n")).head().getLong(0)
          if (total > 1) {
            val fit = graft.ml.Pca.fitPcaFromMoments(sess, dir, k, dim)
            // publish through temp-dir + atomic swap: a concurrent
            // model reader sees the previous fit or the new one,
            // never a half-overwritten directory
            graft.io.Writers.publishParquet(
              Seq((fit.mean.toSeq, fit.eigenvalues.toSeq,
                fit.components.map(_.toSeq).toSeq))
                .toDF("mean", "eigenvalues", "components"), modelPath)
          }
        }
        ()
      }.start()

  def lossAuditForeachBatch(stream: DataFrame, statePath: String,
                            auditPath: String, checkpoint: String,
                            idCol: String = "doc_id",
                            stepCol: String = "step",
                            lossMilliCol: String = "loss_milli",
                            slopeMilli: Double = 10.0,
                            memorizedLastMilli: Long = 100L,
                            noisyRangeMilli: Long = 500L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val sess = batch.sparkSession
        val dir = s"$statePath/loss_state"
        graft.ops.Training.lossStateSums(batch.toDF(), idCol, stepCol,
            lossMilliCol)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(dir)
        // an all-invalid first batch lands no part files — skip the
        // refit until the state dir has data (the arena guard)
        if (dirHasParquet(sess, dir)) {
          graft.io.Writers.publishParquet(
            graft.ops.Training.classifyFromState(
                graft.ops.Training.mergeLossStates(
                  sess.read.parquet(dir), idCol),
                idCol, slopeMilli, memorizedLastMilli, noisyRangeMilli),
            auditPath)
        }
        ()
      }
      .start()

  /** STREAMING CRAWL-TO-TRAINER EXPORT — the E9 composition
    * ([[graft.pipeline.Pipelines.exportTrainingShards]]: curate →
    * greedy context-window packing → trainer shards) as a foreachBatch
    * sink, so the crawl-to-trainer story is continuous end to end:
    * per micro-batch, (1) the batch E9 export runs over the
    * micro-batch's docs and its shards land in a `batch_id=<id>`
    * subdirectory — the loss-state convention: the shard writer
    * overwrites the whole subdirectory, so an at-least-once replay
    * rewrites ITS OWN batch and never corrupts a committed one;
    * (2) the |shards|-row manifest (with `batch_id`) lands in the
    * `_manifest` table via dynamic partition overwrite (same replay
    * safety). `format` picks the shard wire format: `tfrecord`
    * ([[graft.io.Tfrecord]]) or `webdataset`
    * ([[graft.io.WebDataset]], samples keyed by doc_id).
    *
    * PACKING IS PER MICRO-BATCH by design: a pack never spans batches,
    * so the stage carries NO streaming state (no watermark, no
    * stream-stream join; restart-safe through the checkpoint alone)
    * and a batch's shards are immutable the moment it commits — the
    * property a downstream trainer tailing the directory needs. The
    * global training order is (batch_id, shard, pack_id, pack_pos);
    * doc→shard routing is the md5 hash, so a document lands in the
    * same shard id it would in the batch export. Fill efficiency per
    * pack is bounded by batch sizing rather than corpus-global (the
    * honest cost of statelessness — size micro-batches ≥ a few
    * thousand docs per shard for near-batch fill). */
  def exportForeachBatch(stream: DataFrame, outDir: String,
                         checkpoint: String,
                         maxTokens: Long = 1024, nShards: Int = 8,
                         minQuality: Double = 0.3,
                         format: String = "tfrecord",
                         seed: String = "",
                         packer: String = "greedy",
                         fixEncoding: Boolean = false,
                         canonicalCollapse: Boolean = false,
                         urlCol: String = "url",
                         htmlCol: String = "html",
                         tokenizerPath: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(format == "tfrecord" || format == "webdataset",
      s"format must be tfrecord or webdataset, got '$format'")
    // load the tokenizer ONCE at stream setup (broadcast tables ship
    // per executor, not per batch) — the batch export's tokenizerPath
    // knob mirrored; a Unigram file defers to per-batch tokenBudgets
    // (its DP runs on the BATCH's word domain, a per-batch cost by
    // the same statelessness rule as the packing itself)
    val loaded = tokenizerPath.map(p =>
      graft.text.TokenizerFiles.loadTokenizer(stream.sparkSession, p))
    val countWith = loaded.collect {
      case ct: graft.text.TokenizerFiles.ColumnTokenizer =>
        graft.text.TokenizerFiles.tokenCounter(ct)
    }
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.text.TextOps
        val docs = batch.toDF()
        // the batch curate's repair + mirror-collapse options, mirrored
        // (foreachBatch runs batch semantics, so both are safe here)
        val curated = graft.pipeline.Pipelines.curate(docs, minQuality,
          fixEncoding = fixEncoding,
          canonicalCollapse = canonicalCollapse,
          urlCol = urlCol, htmlCol = htmlCol)
        val (packInput, batchCountWith) = loaded match {
          case Some(ut: graft.text.TokenizerFiles.UnigramTokenizer) =>
            val budgets =
              graft.text.TokenizerFiles.tokenBudgets(ut, curated)
            (curated.join(budgets.select(col("doc_id"),
              col("n_tokens").as("_tok_budget")), Seq("doc_id")),
              Some((_: org.apache.spark.sql.Column) =>
                col("_tok_budget")))
          case _ => (curated, countWith)
        }
        val packed = TextOps.packWith(packer, packInput, maxTokens,
          nShards, seed, batchCountWith)
        val rows = packed
          .join(curated.select(col("doc_id"), col("text")), Seq("doc_id"))
          .select(col("doc_id"), col("shard"), col("pack_id"),
            col("pack_pos"), col("n_tokens"), col("text"))
          .repartition(nShards, col("shard"))
          .sortWithinPartitions("shard", "pack_id", "pack_pos")
        val shardDir = s"$outDir/batch_id=$batchId"
        val manifest =
          if (format == "tfrecord")
            graft.io.Tfrecord.writeTfrecordShards(rows, shardDir)
          else
            graft.io.WebDataset.writeWebDatasetShards(
              rows.select(col("doc_id").cast("string").as("key"),
                col("shard"), col("pack_id"), col("pack_pos"),
                col("n_tokens"), col("text")),
              shardDir, keyCol = "key")
        manifest.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(s"$outDir/_manifest")
        ()
      }
      .start()
  }

  /** Maintenance compaction for [[lossAuditForeachBatch]]'s state:
    * fold every COMMITTED per-batch partition into one merged
    * `batch_id = -1` partition via
    * [[graft.ops.Training.mergeLossStates]] (sums add, extremes
    * min/max, endpoints resolve by step — NOT a plain column sum, so
    * the arena compactor does not apply), keeping the latest live
    * partition for replay safety; the same rename-out/rename-in/
    * drop-backup swap (crash between the renames: restore by renaming
    * `loss_state_compact_bak` back). */
  def compactLossState(sess: org.apache.spark.sql.SparkSession,
                       statePath: String,
                       idCol: String = "doc_id"): Unit = {
    val dir = s"$statePath/loss_state"
    if (!dirHasParquet(sess, dir)) return
    val hadoopConf = sess.sparkContext.hadoopConfiguration
    val cur = sess.read.parquet(dir)
      .withColumn("batch_id", col("batch_id").cast("long"))
    val maxBatch = cur.agg(max("batch_id")).head().getLong(0)
    val folded = graft.ops.Training.mergeLossStates(
        cur.filter(col("batch_id") < maxBatch).drop("batch_id"), idCol)
      .withColumn("batch_id", lit(-1L))
    val kept = cur.filter(col("batch_id") === maxBatch)
    val tmp = s"${dir}_compact_tmp"
    val bak = s"${dir}_compact_bak"
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(hadoopConf)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    folded.select(kept.columns.map(col): _*).unionByName(kept)
      .write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
    swapCompacted(fs, dir, tmp, bak)
  }

  /** Two-rename swap with CHECKED renames and rollback — delegates to
    * the shared [[graft.io.Writers.checkedSwap]] (one copy of the
    * serialization-sensitive swap discipline across all compactors). */
  private def swapCompacted(fs: org.apache.hadoop.fs.FileSystem,
                            dir: String, tmp: String,
                            bak: String): Unit =
    graft.io.Writers.checkedSwap(fs,
      new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(bak))

  /** Continuous drift monitoring, step 1 of 2: per tumbling window,
    * equal-width bin counts of `valueCol` (the sufficient statistics of
    * [[graft.ops.Stats.psi]]). One watermarked streaming aggregation —
    * append mode emits each window's finalized (bin, n) rows once the
    * watermark passes; Spark does not allow stacking the PSI reduction
    * as a second streaming aggregation, so the finisher
    * [[psiFromCounts]] runs batch-side (foreachBatch, or a query over
    * the sink table). State per open window is |bins| counters. */
  def psiBinCountsStream(stream: DataFrame, tsCol: String,
                         valueCol: String, binWidth: Double,
                         windowMinutes: Int = 5,
                         watermark: String = "10 minutes"): DataFrame = {
    require(binWidth > 0)
    stream
      .filter(col(valueCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), s"$windowMinutes minutes"),
        floor(col(valueCol) / binWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("start_time"),
        col("window.end").as("end_time"), col("bin"), col("n"))
  }

  /** Step 2 of 2: PSI of each emitted window against a static REFERENCE
    * distribution (bin, p_ref with Σ p_ref = 1 over the reference's
    * bins). Same inner-join-on-common-bins convention as
    * [[graft.ops.Stats.psi]]; the reference broadcasts. Returns one row
    * per window: (start_time, end_time, n_bins, psi). */
  def psiFromCounts(counts: DataFrame, reference: DataFrame): DataFrame = {
    // rename the aggregate side's keys: a straight self-join of a sink
    // VIEW against its own aggregation trips conflicting-reference
    // resolution
    val tot = counts.groupBy("start_time", "end_time")
      .agg(sum("n").cast("double").as("t"))
      .withColumnRenamed("start_time", "st")
      .withColumnRenamed("end_time", "et")
    counts.join(tot,
        col("start_time") === col("st") && col("end_time") === col("et"))
      .select(col("start_time"), col("end_time"), col("bin"),
        (col("n") / col("t")).as("p"))
      .join(broadcast(reference), "bin")
      .groupBy("start_time", "end_time")
      .agg(count(lit(1)).as("n_bins"),
        sum((col("p") - col("p_ref")) *
          log(col("p") / col("p_ref"))).as("psi"))
  }

  /** W5 streaming form: gap-based sessions via `session_window` — the
    * native streaming equivalent of [[graft.ops.Windows.sessionize]]. */
  def sessionAgg(stream: DataFrame, tsCol: String, keyCols: Seq[String],
                 gap: String = "1 second",
                 watermark: String = "10 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy((session_window(col(tsCol), gap) +: keyCols.map(col)): _*)
      .agg(count(lit(1)).as("n"), min(col(tsCol)).as("first_ts"),
        max(col(tsCol)).as("last_ts"))
      .select((keyCols.map(col) ++ Seq(
        col("session_window.start").as("start_time"),
        col("session_window.end").as("end_time"),
        col("n"), col("first_ts"), col("last_ts"))): _*)

  /** Streaming heavy hitters: per tumbling window, the Misra-Gries
    * frequent-items sketch ([[graft.functions.SketchAggregates]]) over the
    * token stream of a text column — trending-terms / hot-key detection on
    * an unbounded stream. The sketch is a TypedImperativeAggregate with
    * fixed-size mergeable state, so each window's state is `maxMapSize`
    * counters regardless of token volume, partial-merged map-side exactly
    * as in batch; the watermark bounds how many windows stay open. Returns
    * one row per (window, surviving token) with the estimate bounds. */
  def frequentTokensStream(stream: DataFrame, tsCol: String,
                           textCol: String,
                           windowDur: String = "5 minutes",
                           maxMapSize: Int = 1024,
                           watermark: String = "10 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .select(col(tsCol),
        explode(split(lower(col(textCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(window(col(tsCol), windowDur))
      .agg(graft.functions.SketchAggregates
        .frequentItems(col("token"), maxMapSize).as("fi"))
      .select(col("window.start").as("start_time"),
        col("window.end").as("end_time"), explode(col("fi")).as("f"))
      .select(col("start_time"), col("end_time"),
        col("f.token").as("token"), col("f.estimate").as("estimate"),
        col("f.lower").as("lower"), col("f.upper").as("upper"))

  /** Continuous data-quality monitoring: [[graft.ops.Quality
    * .expectationsReport]]'s conditional-sum shape per tumbling window —
    * one row per (window, check) with violation counts, suitable for an
    * alerting sink. Row-level checks only (uniqueness needs global state
    * and stays a batch concern); all checks still evaluate in the one
    * windowed aggregation, and the watermark bounds open-window state. */
  def expectationsStream(stream: DataFrame, tsCol: String,
                         checks: Seq[(String, org.apache.spark.sql.Column)],
                         windowDur: String = "5 minutes",
                         watermark: String = "10 minutes"): DataFrame = {
    require(checks.nonEmpty, "expectationsStream needs at least one check")
    val violationCols = checks.zipWithIndex.map { case ((_, pred), i) =>
      coalesce(sum(when(pred, 0L).otherwise(1L)), lit(0L)).as(s"_v$i")
    }
    val rows = checks.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("check"), col("_total").as("total"),
        col(s"_v$i").as("violations"))
    }
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur))
      .agg(count(lit(1)).as("_total"), violationCols: _*)
      .select(col("window.start").as("start_time"),
        col("window.end").as("end_time"), explode(array(rows: _*)).as("r"))
      .select(col("start_time"), col("end_time"),
        col("r.check").as("check"), col("r.total").as("total"),
        col("r.violations").as("violations"),
        when(col("r.violations") === 0, 1).otherwise(0).as("pass"))
  }

  /** Stream-stream interval join: each left row matched to right rows with
    * the same key whose timestamp lies in [leftTs − lowerSec,
    * leftTs + upperSec]. Watermarks on BOTH sides plus the time-range
    * predicate let Spark bound the join state (right rows are evicted once
    * the left watermark passes their last possible match) — the streaming
    * analogue of the batch point-in-interval join, viable on unbounded
    * streams. Columns must be disjoint apart from `key`. */
  def intervalJoinStreams(left: DataFrame, right: DataFrame, key: String,
                          leftTs: String, rightTs: String,
                          lowerSec: Long, upperSec: Long,
                          watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
      .withColumnRenamed(key, s"_r_$key")
    l.join(r,
      col(key) === col(s"_r_$key") &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lowerSec SECOND") &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $upperSec SECOND"))
      .drop(s"_r_$key")
  }

  /** One observation of a keyed value stream. */
  case class Obs(key: String, ts: java.sql.Timestamp, value: Double)

  /** A completed run of identical consecutive values. */
  case class Run(key: String, value: Double,
                 start_time: java.sql.Timestamp,
                 end_time: java.sql.Timestamp,
                 n: Long, include: Boolean)

  /** Open-run state carried between micro-batches. */
  case class RunState(value: Double, startMs: Long, endMs: Long,
                      runLen: Long)

  /** Streaming exact dedup: first occurrence per id wins; duplicate
    * arrivals inside the watermark horizon are dropped, and state for ids
    * older than the watermark is evicted (bounded state — the difference
    * between a dedup that survives a 100 TB backfill and one that OOMs).
    * Late duplicates beyond the watermark are NOT caught (they would need
    * unbounded state); pair with a batch [[graft.dedup.Dedup.exact]] pass
    * for the archival layer. */
  def dedupStream(stream: DataFrame, idCols: Seq[String], tsCol: String,
                  watermark: String = "10 minutes"): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** A5 streaming form: run-length flatline detection as
    * `flatMapGroupsWithState` — emits each run when the value changes
    * (the open run stays in state). Within-batch rows are time-sorted;
    * cross-batch order relies on upstream watermarking. */
  def flatlineRuns(ds: Dataset[Obs], maxRun: Int = 20)
      (implicit spark: SparkSession): Dataset[Run] = {
    import spark.implicits._
    def fn(key: String, rows: Iterator[Obs],
           state: GroupState[RunState]): Iterator[Run] = {
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      val out = scala.collection.mutable.ArrayBuffer.empty[Run]
      var cur = state.getOption
      sorted.foreach { o =>
        cur match {
          case Some(s) if s.value == o.value =>
            cur = Some(s.copy(endMs = o.ts.getTime, runLen = s.runLen + 1))
          case Some(s) =>
            out += Run(key, s.value, new java.sql.Timestamp(s.startMs),
              new java.sql.Timestamp(s.endMs), s.runLen, s.runLen <= maxRun)
            cur = Some(RunState(o.value, o.ts.getTime, o.ts.getTime, 1))
          case None =>
            cur = Some(RunState(o.value, o.ts.getTime, o.ts.getTime, 1))
        }
      }
      cur.foreach(state.update)
      out.iterator
    }
    ds.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  case class DocIn(source: String, docId: Long, text: String)
  case class NoveltyOut(source: String, docs: Long, tokens: Long,
                        novel: Long, novelty: Double)
  /** Bloom bits of every token this source has ever emitted. */
  case class SeenState(bloom: Array[Byte])

  /** Streaming token-novelty monitor: per source and per trigger, the
    * fraction of distinct tokens not seen in ANY earlier micro-batch of
    * that source — the streaming form of
    * [[graft.text.TextOps.tokenNovelty]], watching a live crawl go stale.
    *
    * State per source is a FIXED-SIZE Bloom filter of seen tokens (the
    * [[graft.text.TextOps.bloomDecontaminate]] trade): membership has no
    * false negatives, so novelty can only be UNDER-counted, and only at
    * the configured fpp — the state row never grows with the vocabulary,
    * which is what makes indefinite-horizon novelty tracking safe in a
    * streaming job (an exact seen-set would grow without bound).
    * `expectedTokens`/`fpp` size the filter once at first use. */
  def noveltyStream(ds: Dataset[DocIn],
                    expectedTokens: Long = 1000000L,
                    fpp: Double = 0.01)
      (implicit spark: SparkSession): Dataset[NoveltyOut] = {
    import spark.implicits._
    def fn(source: String, rows: Iterator[DocIn],
           state: GroupState[SeenState]): Iterator[NoveltyOut] = {
      import org.apache.spark.util.sketch.BloomFilter
      val bloom = state.getOption match {
        case Some(s) => BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(s.bloom))
        case None => BloomFilter.create(expectedTokens, fpp)
      }
      var docs = 0L
      // within-trigger dedup is exact; only cross-trigger memory is bloomed
      val batchTokens = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { d =>
        docs += 1
        // null text contributes no tokens, matching the batch operator
        Option(d.text).getOrElse("").toLowerCase.split(" ").foreach { t =>
          if (t.nonEmpty) batchTokens += t
        }
      }
      var novel = 0L
      batchTokens.foreach { t =>
        if (!bloom.mightContainString(t)) { novel += 1; bloom.putString(t) }
      }
      // unchanged state persists on its own: skip the ~1 MB serialize +
      // state-store write when the trigger introduced nothing novel (the
      // steady state of a stale source, which is what this monitor is for)
      if (novel > 0) {
        val bos = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bos)
        state.update(SeenState(bos.toByteArray))
      }
      val n = batchTokens.size.toLong
      Iterator.single(NoveltyOut(source, docs, n, novel,
        if (n > 0) novel.toDouble / n else 0.0))
    }
    ds.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  case class Ev(user: Long, ts: java.sql.Timestamp, kind: String)
  /** stage = steps completed so far; −1 = funnel dead (deadline missed).
    * lastMs = event-time of the chosen stage event. */
  case class FunnelState(stage: Int, lastMs: Long)
  case class Conversion(user: Long, step: Int, kind: String,
                        ts: java.sql.Timestamp)

  /** Streaming form of [[graft.ops.Events.funnel]]: a per-user state
    * machine emitting one [[Conversion]] row the moment a user completes
    * each step — same strict-order, first-occurrence, per-step-deadline
    * semantics as the batch operator (EventsSpec/StreamingSpec assert
    * parity on shared scenarios).
    *
    * State is ONE (stage, ts) pair per user and stays bounded three ways:
    * stage-0 state is never stored (it is identical to the absent-state
    * default, so users who never emit the first step leave nothing
    * behind); in-flight funnels carry an event-time timeout at their
    * current deadline and transition to a dead marker when it passes; and
    * terminal markers (completed or dead) are RETAINED for `retentionSec`
    * of event time before eviction, so a user cannot re-enter the funnel
    * and double-count within that horizon. Exact first-occurrence parity
    * with the batch operator over an UNBOUNDED stream would require
    * remembering every user forever — the retention horizon is the
    * explicit, documented bound; past it a returning user is
    * indistinguishable from a new one. Within-batch rows are time-sorted;
    * cross-batch order relies on the watermark, as with [[flatlineRuns]]. */
  def funnelStream(ds: Dataset[Ev], steps: Seq[String],
                   maxGapSec: Long = 3600L,
                   watermark: String = "10 minutes",
                   retentionSec: Long = 86400L)
      (implicit spark: SparkSession): Dataset[Conversion] = {
    import spark.implicits._
    require(steps.nonEmpty)
    val gapMs = maxGapSec * 1000L
    val retentionMs = retentionSec * 1000L
    def isTerminal(st: FunnelState): Boolean =
      st.stage == -1 || st.stage >= steps.length
    def fn(user: Long, rows: Iterator[Ev],
           state: GroupState[FunnelState]): Iterator[Conversion] = {
      // timeouts fire past the watermark: an in-flight funnel's deadline
      // passed with no qualifying event → keep a dead marker for the
      // retention horizon; a terminal marker past retention → evict
      if (state.hasTimedOut) {
        val st = state.get
        if (isTerminal(st)) state.remove()
        else {
          state.update(FunnelState(-1, st.lastMs))
          state.setTimeoutTimestamp(math.max(st.lastMs + retentionMs,
            state.getCurrentWatermarkMs() + 1))
        }
        return Iterator.empty
      }
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      var st = state.getOption.getOrElse(FunnelState(0, 0L))
      val out = scala.collection.mutable.ArrayBuffer.empty[Conversion]
      sorted.foreach { e =>
        if (st.stage >= 0 && st.stage < steps.length &&
          e.kind == steps(st.stage)) {
          val tMs = e.ts.getTime
          if (st.stage == 0) {
            st = FunnelState(1, tMs)
            out += Conversion(user, 1, e.kind, e.ts)
          } else if (tMs > st.lastMs && tMs <= st.lastMs + gapMs) {
            st = FunnelState(st.stage + 1, tMs)
            out += Conversion(user, st.stage, e.kind, e.ts)
          } else if (tMs > st.lastMs + gapMs) {
            // the FIRST qualifying event is already past the deadline; no
            // earlier one can arrive in event-time order → terminal
            st = FunnelState(-1, tMs)
          } // tMs <= lastMs: not strictly after the chosen event — ignore
        }
      }
      if (st.stage != 0) { // stage 0 == absent-state default: store nothing
        state.update(st)
        val horizon = if (isTerminal(st)) st.lastMs + retentionMs
                      else st.lastMs + gapMs
        state.setTimeoutTimestamp(math.max(horizon,
          state.getCurrentWatermarkMs() + 1))
      }
      out.iterator
    }
    ds.withWatermark("ts", watermark)
      .groupByKey(_.user)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
