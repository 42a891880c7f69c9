package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data curation (engine
  * extension — no reference analogue; the reference's string work stops at
  * regex extraction, SURVEY.md §2.2 P18-P19).
  *
  * All pure column expressions → whole-stage codegen, no UDFs; every
  * operator is embarrassingly parallel over documents (no shuffle).
  */
object TextOps {

  /** Top English function words for the n-gram/stopword language heuristic
    * and quality ratios. */
  val EnStopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of",
    "to", "in", "is", "it", "that", "for", "on", "with", "as", "at", "by",
    "from", "this", "be", "are", "was", "not", "but", "have", "has")

  /** Whitespace tokenization. `split` on single spaces matches the oracle's
    * `string_split(text, ' ')` exactly (empty tokens preserved). */
  def wsTokens(text: Column): Column = split(text, " ")

  /** The DEFAULT unigram word-domain builder (the q235 convention):
    * lowercased whitespace tokens, empties dropped, null-safe — the
    * `preTokens` default of the unigram trainer/segmenter family.
    * Alternatives ([[metaspacePreTokens]] for the T5/SentencePiece ▁
    * shape, possibly behind a file-declared normalizer) thread through
    * those operators' `preTokens` knob so training, segmentation, and
    * budget counting all walk the SAME word domain. */
  def wordDomain(text: Column): Column =
    filter(wsTokens(lower(coalesce(text, lit("")))),
      t => length(t) > 0)

  /** Token count (whitespace). */
  def tokenCount(text: Column): Column = size(wsTokens(text))

  /** SCRIPT-AWARE token count — the fix for the word-gate blind spot on
    * space-free scripts: whitespace splitting sees an entire CJK
    * document as ONE token, so every word-count rule (Gopher band, C4
    * line minimum, token budgeting) misgates it. Standard mixed-script
    * counting rule instead: each CJK character (the [[ScriptRanges]]
    * cjk class — Han, kana, Hangul) counts as one token, plus the
    * non-empty whitespace words of the NON-CJK residue (CJK chars
    * blanked first, so "GPU加速" counts 1 latin word + 2 han chars).
    * Pure strip-and-measure regex + split counts — map-only, and the
    * identical formula replays in DuckDB for the oracle. */
  def scriptAwareTokenCount(text: Column): Column = {
    val t = coalesce(text, lit(""))
    val cjk = s"[${CjkClassBody}]"
    val cjkChars = length(t) - length(regexp_replace(t, cjk, ""))
    val residueWords = size(filter(
      split(regexp_replace(t, cjk, " "), "\\s+"), w => length(w) > 0))
    (cjkChars + residueWords.cast("long")).cast("long")
  }

  /** BPE-ish subword count: words + digits + punctuation runs — a regex
    * proxy for tokenizer load (one token per word-piece of ≤4 chars). */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]"),
      lit(0)))

  /** Fraction of whitespace tokens that are English stopwords. */
  def stopwordRatio(text: Column): Column = {
    val toks = wsTokens(lower(text))
    val stops = filter(toks, t => t.isin(EnStopwords: _*))
    when(size(toks) > 0, size(stops).cast("double") / size(toks))
      .otherwise(lit(0.0))
  }

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) -
        length(regexp_replace(text, "[^A-Za-z0-9\\s]", "")))
        .cast("double") / length(text))
      .otherwise(lit(0.0))

  /** Mean whitespace-token length. */
  def meanTokenLen(text: Column): Column = {
    val toks = wsTokens(text)
    when(size(toks) > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(toks))
      .otherwise(lit(0.0))
  }

  /** Language-ID heuristic: stopword hit-rate over function words. Returns
    * "en" above `threshold`, else "other". (A real model would use char
    * n-gram profiles; the stopword rate is the standard cheap first pass.) */
  def langIdEn(text: Column, threshold: Double = 0.12): Column =
    when(stopwordRatio(text) >= threshold, "en").otherwise("other")

  /** MULTILINGUAL language-ID — the multi-class router [[langIdEn]]
    * stops short of: char-n-gram profile scoring over ~12 high-volume
    * languages ([[graft.functions.LangIdMulti]] — TextCat/CLD-style
    * operator-constant profiles, one pass, exact integer scores, ties
    * by profile order, all-zero → "und"). Returns STRUCT(lang, score);
    * feed `lang` to curate routing or [[temperatureRates]] strata.
    * [[langIdEn]] keeps its English verdicts unchanged — this is the
    * routing layer above it, not a replacement. */
  def langIdMulti(text: Column): Column =
    graft.functions.VectorExpressions.langIdMulti(
      coalesce(text, lit("")))

  /** Unicode-script ranges for [[scriptProfile]]: name → character-class
    * body (literal BMP ranges — valid in both Java regex and RE2, so the
    * DuckDB oracle reuses the exact same class strings). */
  private[graft] val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-zÀ-ɏ",
    "cyrillic" -> "Ѐ-ӿ",
    "cjk" -> "぀-ヿ一-鿿가-힯",
    "arabic" -> "؀-ۿ",
    "digit" -> "0-9")

  /** The cjk class body shared by [[scriptAwareTokenCount]] and the
    * script-dispatched gates — single source of truth with
    * [[ScriptRanges]]. */
  private[graft] val CjkClassBody: String = ScriptRanges.toMap.apply("cjk")

  /** DOMINANT SCRIPT as a per-row column expression — the
    * [[scriptProfile]] routing signal, shared by every
    * script-dispatched operator ([[gopherRulesScripted]],
    * [[sentenceStatsScripted]], [[duplicateNgramFractionScripted]],
    * [[shinglesScripted]]): highest [[ScriptRanges]] class count, ties
    * in ScriptRanges order, "none" when all zero. Computed by the
    * native single-pass [[graft.functions.DominantScript]] kernel —
    * one code-point walk instead of five whole-text regexp_replace
    * strip-and-measure passes (3.7x on the q277 path); semantics are
    * spec-pinned identical to the regex form
    * ([[dominantScriptRegexExpr]]), which is what the oracles replay. */
  private[graft] def dominantScriptExpr(t: Column): Column =
    graft.functions.VectorExpressions.dominantScript(coalesce(t, lit("")))

  /** The strip-and-measure regex form of [[dominantScriptExpr]] — the
    * oracle-portable derivation (the DuckDB CASE chain is its verbatim
    * transcription), kept as the kernel's parity reference. */
  private[graft] def dominantScriptRegexExpr(t: Column): Column = {
    val counts = ScriptRanges.map { case (name, body) =>
      (name, length(regexp_replace(t, s"[^$body]", "")).cast("long"))
    }
    val maxCount = greatest(counts.map(_._2): _*)
    counts.foldRight(lit("none")) { case ((name, cnt), els) =>
      when(cnt === maxCount && maxCount > 0, name).otherwise(els)
    }
  }

  /** Per-document Unicode script profile: counts of characters in the
    * major script blocks ([[ScriptRanges]]) plus the dominant script —
    * the routing signal for a multilingual corpus ([[langIdEn]] only
    * answers "English or not"; script tells you which tokenizer,
    * stopword list, and language-ID model to dispatch to, and catches
    * mixed-script spam where a Latin page hides CJK keyword stuffing).
    * Counts via strip-and-measure (`length(regexp_replace(text,
    * [^class], ''))`) — one deterministic regex pass per class, the
    * identical expression both engines evaluate. Dominant = the
    * highest-count script, ties broken in [[ScriptRanges]] order,
    * "none" when every class counts zero. Map-only, codegen'd — no
    * shuffle, no UDF. */
  def scriptProfile(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val counts = ScriptRanges.map { case (name, body) =>
      coalesce(length(regexp_replace(col(textCol), s"[^$body]", "")),
        lit(0)).cast("long").as(name)
    }
    val withCounts = docs.select(col(idCol) +: counts: _*)
    val maxCount = greatest(ScriptRanges.map(r => col(r._1)): _*)
    val dominant = ScriptRanges.foldRight(lit("none")) {
      case ((name, _), els) =>
        when(col(name) === maxCount && maxCount > 0, name).otherwise(els)
    }
    // foldRight keeps first-listed script winning ties: the when-chain
    // tests latin before cyrillic before cjk...
    withCounts.withColumn("dominant", dominant)
  }

  /** Composite quality score in [0,1]: length band + stopword presence −
    * punctuation noise. Deterministic, codegen'd, tunable weights. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val stopScore = least(stopwordRatio(text) * 4, lit(1.0))
    val punctPenalty = least(punctRatio(text) * 5, lit(1.0))
    greatest(lit(0.0), least(lit(1.0),
      lenScore * 0.4 + stopScore * 0.4 + (lit(1.0) - punctPenalty) * 0.2))
  }

  /** Document fingerprint: stable 64-bit content hash (xxhash64) plus a
    * normalized-content variant (case/whitespace folded) for near-exact
    * dedup. */
  def fingerprint(text: Column): Column = xxhash64(text)

  /** PII scrubbing: apply (pattern → replacement) rules in order. Patterns
    * must stay in the Java-regex ∩ RE2 common subset (no backreferences /
    * lookaround) so results are portable across engines — the correctness
    * harness cross-checks them in DuckDB. */
  def scrubPii(text: Column,
               rules: Seq[(String, String)] = DefaultPiiRules): Column =
    rules.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Email + phone-suffix + 16-digit-card defaults; replace-all. */
  val DefaultPiiRules: Seq[(String, String)] = Seq(
    "[A-Za-z0-9.+_-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\d{3}-\\d{4}" -> "<PHONE>",
    "\\d{16}" -> "<CARD>")

  /** Luhn checksum validity of a DIGITS-ONLY string (the check every
    * real payment-card number passes): reversed-position doubling with
    * the >9 fold, total ≡ 0 (mod 10). Pure HOF column arithmetic —
    * portable, map-only. Strip separators first ([[creditCardScan]]
    * does); a non-digit character fails the ANSI digit cast loudly
    * rather than validating garbage. Null/empty → false. */
  def luhnValid(digits: Column): Column = {
    val ds = reverse(coalesce(digits, lit("")))
    val contrib = transform(sequence(lit(1), length(ds)), i => {
      val d = ds.substr(i, lit(1)).cast("int")
      when(i % 2 === 0,
        d * 2 - when(d * 2 > 9, 9).otherwise(0)).otherwise(d)
    })
    when(length(ds) === 0, lit(false))
      .otherwise(aggregate(contrib, lit(0), (acc, x) => acc + x)
        % 10 === 0)
  }

  /** Credit-card detection with CHECKSUM validation — the precision fix
    * over [[DefaultPiiRules]]' bare `\\d{16}` (which flags order ids and
    * timestamps): extract 13–19 digit runs (spaces/dashes allowed),
    * strip separators, keep only runs passing [[luhnValid]]. Returns
    * the array of validated digit strings; compose with `size(...)` for
    * counts or a replace loop for scrubbing. Map-only, RE2-safe. */
  def creditCardScan(text: Column): Column =
    filter(
      transform(
        regexp_extract_all(coalesce(text, lit("")),
          lit("\\b(?:[0-9][ -]?){12,18}[0-9]\\b"), lit(0)),
        m => regexp_replace(m, "[^0-9]", "")),
      d => luhnValid(d))

  /** Deterministic hash bucket in [0, buckets): first 8 hex digits of
    * md5(key) mod buckets. Portable (md5-only) on purpose: the same
    * expression works in any SQL engine, so train/val/test membership is
    * stable across the whole data platform, not just this engine. */
  def hashBucket(key: Column, buckets: Int = 100): Column =
    pmod(graft.functions.HashExpressions.md5Prefix(key.cast("string"), 8),
      lit(buckets.toLong))

  /** Deterministic train/val/test split label from [[hashBucket]]:
    * [0,trainPct) → train, [trainPct,trainPct+valPct) → val, rest test. */
  def hashSplit(key: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = hashBucket(key, 100)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  def normalizedFingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  /** Content-defined rolling-hash fingerprints: hash every character
    * k-gram, keep the content-defined sample (hash prefix '0' → 1/16 rate).
    * The winnowing-style selection is position-independent, so shared
    * passages produce shared fingerprints regardless of offset — the
    * standard near-dup/plagiarism fingerprint. Returns the sampled hash
    * array (empty → whole-text hash). */
  def rollingFingerprints(text: Column, k: Int = 16): Column =
    graft.functions.VectorExpressions.rollingFingerprints(text, k)

  /** Winnowing fingerprints ([[graft.functions.WinnowingFingerprints]],
    * the MOSS selection): per window of `w` consecutive k-gram md5s,
    * the rightmost minimum — distinct (pos, fp) pairs in order. The
    * GUARANTEE [[rollingFingerprints]]' mod-p sampling lacks: every
    * shared substring of length ≥ w + k − 1 contributes at least one
    * shared fingerprint (PropertySpec asserts it on shifted copies). */
  def winnowingFingerprints(text: Column, k: Int = 8,
                            w: Int = 8,
                            portable: Boolean = true): Column =
    graft.functions.VectorExpressions.winnowingFingerprints(text, k, w,
      portable)

  /** Content-defined chunks ([[graft.functions.CdcChunks]]): split after
    * every position whose trailing character `k`-gram md5 starts with
    * hex '0' (1/16 rate, ~16-char expected chunks). Boundaries follow
    * CONTENT, not position — a passage shifted by an inserted prefix
    * re-aligns to identical chunks after at most one boundary interval,
    * which is exactly what fixed-stride chunking ([[chunks]]) cannot do
    * (any offset < chunkLen shifts every chunk; PropertySpec quantifies
    * the miss). Chunks concatenate back to the input verbatim. */
  def cdcChunks(text: Column, k: Int = 8,
                portable: Boolean = true): Column =
    graft.functions.VectorExpressions.cdcChunks(text, k, portable)

  /** Word n-gram shingles (lowercased, distinct, first-occurrence order),
    * for Jaccard/MinHash dedup. Native single-pass kernel
    * ([[graft.functions.WordShingles]]) — semantically identical to the
    * `array_distinct(transform(sequence…))` composition but without its
    * per-query codegen cost or per-position re-slicing. */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.VectorExpressions.wordShingles(text, n)

  /** EPOCH WATER-FILLING for data-constrained training (Muennighoff et
    * al. 2023, "Scaling Data-Constrained Language Models"): allocate a
    * total token `budget` across sources proportionally to their size,
    * but cap each source at `epoch_cap` repeats (the quality knob: let
    * curated sources repeat 4×, raw crawl 1×). The exact solution is
    * water-filling — one common epoch level t with every source
    * contributing tokens·min(cap, t), t chosen so the total meets the
    * budget: sources sorted by cap, prefix sums locate the segment
    * where the budget crosses, and t is one exact division inside it.
    * Input: (source, n_tokens, epoch_cap); output per source:
    * (source, n_tokens, epoch_cap, epochs = min(cap, t),
    * alloc_tokens = floor(tokens·epochs), budget_met — 0 when even
    * full saturation Σ tokens·cap can't reach the budget, in which
    * case epochs = cap everywhere and the shortfall is visible).
    *
    * Epoch caps must be positive (the level search anchors at 0) and
    * should be integral/dyadic for bit-portable totals (the pageRank
    * dyadic rule — tokens·cap then stays exact in doubles).
    *
    * Shuffle ledger: |sources| is catalog-sized — one sort window over
    * (cap, source) rows for the prefix sums, a 1-row argmax broadcast
    * for the crossing segment, one map-side projection back. All
    * intermediates are integer sums and ONE IEEE division, so the
    * result replays engine-for-engine unrounded. */
  def epochAllocation(sources: DataFrame, budget: Long,
                      sourceCol: String = "source",
                      tokensCol: String = "n_tokens",
                      capCol: String = "epoch_cap"): DataFrame = {
    require(budget > 0, "budget must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("cap"), col("src"))
    val rows = sources.select(col(sourceCol).as("src"),
        col(tokensCol).cast("long").as("tok"),
        col(capCol).cast("double").as("cap"))
      .withColumn("satPrev", coalesce(sum(col("tok") * col("cap"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0.0)))
      .withColumn("tokPrev", coalesce(sum(col("tok"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tot = sources.agg(
      sum(col(tokensCol).cast("long")).as("totTok"),
      sum(col(tokensCol).cast("long") * col(capCol).cast("double"))
        .as("totCap"),
      max(col(capCol).cast("double")).as("maxCap"))
    // the crossing segment: the LAST row (by the sort order) whose
    // level-entry allocation A(cap_k) = satPrev + cap_k·(totTok −
    // tokPrev) still fits the budget. A virtual k=0 row (cap 0, empty
    // src, zero sums) always fits, so the "nothing saturates" case
    // falls out of the same formula: t = (B − 0)/(totTok − 0).
    val spark0 = sources.sparkSession
    import spark0.implicits._
    val sentinel = Seq(("", 0L, 0.0, 0.0, 0L))
      .toDF("src", "tok", "cap", "satPrev", "tokPrev")
    val seg = rows.select("src", "tok", "cap", "satPrev", "tokPrev")
      .unionByName(sentinel)
      .crossJoin(broadcast(tot))
      .filter(col("satPrev") +
        col("cap") * (col("totTok") - col("tokPrev")).cast("double")
        <= lit(budget.toDouble))
      .agg(max(struct(col("cap"), col("src"), col("satPrev"),
        col("tokPrev"), col("tok"))).as("_k"))
      .select(
        (col("_k.satPrev") + col("_k.cap") * col("_k.tok")).as("satK"),
        (col("_k.tokPrev") + col("_k.tok")).as("tokK"))
    val lvl = seg.crossJoin(broadcast(tot))
      .select(
        when(col("totCap") <= lit(budget.toDouble), col("maxCap"))
          .otherwise((lit(budget.toDouble) - col("satK")) /
            (col("totTok") - col("tokK")).cast("double")).as("t"),
        (col("totCap") < lit(budget.toDouble)).cast("int").as("short"))
    sources.select(col(sourceCol).as("source"),
        col(tokensCol).cast("long").as("n_tokens"),
        col(capCol).cast("double").as("epoch_cap"))
      .crossJoin(broadcast(lvl))
      .select(col("source"), col("n_tokens"), col("epoch_cap"),
        least(col("epoch_cap"), col("t")).as("epochs"),
        floor(col("n_tokens").cast("double") *
          least(col("epoch_cap"), col("t"))).cast("long")
          .as("alloc_tokens"),
        (lit(1) - col("short")).as("budget_met"))
  }

  /** DISTINCT-n DIVERSITY per group — the corpus-level distinct-n-gram
    * ratio (Li et al. 2016's distinct-n, the Self-BLEU-adjacent
    * templatedness gauge): per `groupCol`, distinct n-grams ACROSS all
    * the group's documents over total n-gram occurrences. Low ratios
    * mean the source repeats itself document-to-document (template
    * farms, boilerplate mirrors, mode-collapsed synthetic data) — the
    * cross-document complement of the within-document
    * [[duplicateNgramFraction]]. `distinct_ratio` is the UNROUNDED
    * exact-integer quotient (the cross-engine float rule). One
    * (group, gram) explode + one partial-agged count/count_distinct —
    * the token-domain ledger class, no pairs, no windows. */
  def ngramDiversity(docs: DataFrame, n: Int = 2,
                     groupCol: String = "source",
                     textCol: String = "text"): DataFrame = {
    require(n >= 1, "n must be positive")
    val gram = (0 until n).map(k => s"tk[i - 1 + $k]").mkString(", ")
    docs.filter(col(textCol).isNotNull)
      .select(col(groupCol),
        filter(wsTokens(lower(col(textCol))), t => length(t) > 0)
          .as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col(groupCol), explode(expr(
        s"transform(sequence(1, size(tk) - ${n - 1}), " +
          s"i -> concat_ws(' ', $gram))")).as("gram"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_ngrams"),
        count_distinct(col("gram")).as("n_distinct"))
      .withColumn("distinct_ratio",
        col("n_distinct").cast("double") / col("n_ngrams"))
  }

  /** Unigram Shannon entropy (nats) of the whitespace tokens — the
    * diversity/repetitiveness quality signal (boilerplate and keyword
    * stuffing score low; natural prose high). Native single-pass kernel
    * ([[graft.functions.TokenEntropy]]): one token-count map per row,
    * map-only at any scale — the relational form would shuffle every
    * (doc, token) pair just to count within the document. */
  def tokenEntropy(text: Column): Column =
    graft.functions.VectorExpressions.tokenEntropy(text)

  /** Deflate compression ratio of the document bytes (compressed/raw) —
    * the tokenization-free repetition/boilerplate signal in DCLM-style
    * quality rule sets: looping spam compresses far below prose. Native
    * single-pass kernel ([[graft.functions.DeflateRatio]]), map-only;
    * complements [[tokenEntropy]] (token diversity) and
    * [[duplicateNgramFraction]] (n-gram repeats) at the byte level. */
  def compressionRatio(text: Column): Column =
    graft.functions.HashExpressions.deflateRatio(text)

  /** Main-content text from raw HTML — the extraction step between WARC
    * ingest and every text operator (a `response` record's payload is
    * markup, not prose). Regex-chain approximation of the
    * trafilatura-style extractors: script/style blocks and comments
    * removed, every remaining tag stripped to a space, the five
    * XML-predefined entities plus `&nbsp;` unescaped (`&amp;` LAST, so
    * double-escaped text un-escapes exactly one level), whitespace
    * collapsed. Every pattern sits in the Java-regex ∩ RE2 common subset
    * (lazy quantifiers + inline flags, no backreferences/lookaround) so
    * the DuckDB oracle replays the identical chain. Map-only, codegen'd,
    * no shuffle at any scale. Limitation, documented: an end-tag of the
    * OTHER kind closes a script/style block (`<script>…</style>`) —
    * RE2 has no backreference to pin the pair; real-world markup pays at
    * most a few extra stripped characters. */
  def htmlExtract(html: Column): Column = {
    val noBlocks = regexp_replace(html,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noComments = regexp_replace(noBlocks, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComments, "<[^>]+>", " ")
    val unescaped = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /** Gopher-style quality RULE REPORT — the per-document measurements
    * behind the classic rule-based filter (word count band, mean word
    * length band, bullet/ellipsis line fractions, alphabetic-word
    * fraction, required-stopword hits) plus the composite `pass` verdict
    * at the published thresholds. Complements [[qualityScore]] (a single
    * soft score) with the interpretable hard-rule battery DCLM/Gopher
    * pipelines gate on. One row in, one row out — every measurement is a
    * higher-order-function fold over the split arrays, map-only,
    * codegen'd, no shuffle. Exact-quotient doubles are emitted UNROUNDED
    * (one division over exact integer counts — bit-identical across
    * engines). */
  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanWord: Double = 3.0, maxMeanWord: Double = 10.0,
                  maxBulletFrac: Double = 0.9,
                  maxEllipsisFrac: Double = 0.3,
                  minAlphaFrac: Double = 0.8,
                  minStopHits: Int = 2): DataFrame = {
    val words = filter(split(lower(col(textCol)), "\\s+"), w => w =!= "")
    val lines = split(col(textCol), "\n")
    val nWords = size(words).cast("long")
    val nLines = size(lines).cast("long")
    val wordChars = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    val alphaWords = size(filter(words, w => w.rlike("[a-z]"))).cast("long")
    val bulletLines =
      size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("long")
    val ellipsisLines =
      size(filter(lines, l => l.rlike("\\.{3}\\s*$"))).cast("long")
    // Gopher's required-stopword battery: how many of the 8 appear
    val stopHits = size(filter(
      typedlit(Seq("the", "be", "to", "of", "and", "that", "have", "with")),
      s => array_contains(words, s))).cast("long")
    docs.select(col(idCol), nWords.as("n_words"),
        (wordChars.cast("double") / nWords).as("mean_word_len"),
        (alphaWords.cast("double") / nWords).as("alpha_frac"),
        (bulletLines.cast("double") / nLines).as("bullet_frac"),
        (ellipsisLines.cast("double") / nLines).as("ellipsis_frac"),
        stopHits.as("stop_hits"))
      .withColumn("pass",
        (col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= minMeanWord &&
          col("mean_word_len") <= maxMeanWord &&
          col("bullet_frac") <= maxBulletFrac &&
          col("ellipsis_frac") <= maxEllipsisFrac &&
          col("alpha_frac") >= minAlphaFrac &&
          col("stop_hits") >= minStopHits).cast("long"))
  }

  /** SCRIPT-DISPATCHED [[gopherRules]] — the multilingual fix for the
    * round-11 verdict gap: Gopher's battery is English-born, and on a
    * space-free script its word rules are not just miscalibrated but
    * MEANINGLESS (an entire CJK document whitespace-splits to one giant
    * "word": n_words=1 fails the 50-word floor, mean_word_len=hundreds
    * fails the 3-10 band, the English stopword battery never hits —
    * three independent false drops). Dispatch by the dominant script
    * (the [[scriptProfile]] signal, computed inline — same strip-and-
    * measure classes):
    *
    *   - dominant != cjk → EXACTLY the [[gopherRules]] measurements and
    *     verdict (spec-pinned equality), so existing corpora re-gate
    *     identically.
    *   - dominant == cjk → n_words = [[scriptAwareTokenCount]] (han/
    *     kana/hangul chars + latin-residue words); mean_word_len =
    *     non-space chars / n_words (≈1 for pure CJK — reported, NOT
    *     gated: the 3-10 band is a latin-morphology fact); alpha_frac =
    *     fraction of non-space chars that are word-forming (cjk class +
    *     latin letters) — the "is this prose or symbol soup" intent of
    *     Gopher's alphabetic-word rule re-expressed at the char level;
    *     the English required-stopword rule is WAIVED (hits still
    *     reported); bullet/ellipsis line rules apply unchanged (layout
    *     is script-independent).
    *
    * Everything stays strip-and-measure + split counts — map-only,
    * codegen'd, and the oracle re-derives every branch of the dispatch
    * from the same class strings. */
  def gopherRulesScripted(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text",
                          minWords: Int = 50, maxWords: Int = 100000,
                          minMeanWord: Double = 3.0,
                          maxMeanWord: Double = 10.0,
                          maxBulletFrac: Double = 0.9,
                          maxEllipsisFrac: Double = 0.3,
                          minAlphaFrac: Double = 0.8,
                          minStopHits: Int = 2): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val dominant = dominantScriptExpr(t)
    // english-path measurements — the gopherRules expressions verbatim
    val words = filter(split(lower(col(textCol)), "\\s+"), w => w =!= "")
    val lines = split(col(textCol), "\n")
    val nWordsEn = size(words).cast("long")
    val nLines = size(lines).cast("long")
    val wordChars = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    val alphaWords = size(filter(words, w => w.rlike("[a-z]"))).cast("long")
    val bulletLines =
      size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("long")
    val ellipsisLines =
      size(filter(lines, l => l.rlike("\\.{3}\\s*$"))).cast("long")
    val stopHits = size(filter(
      typedlit(Seq("the", "be", "to", "of", "and", "that", "have", "with")),
      s => array_contains(words, s))).cast("long")
    // cjk-path measurements
    val nWordsCjk = scriptAwareTokenCount(t)
    val nonspace = length(regexp_replace(t, "\\s", "")).cast("long")
    val wordForming = length(regexp_replace(t,
      s"[^${CjkClassBody}A-Za-zÀ-ɏ]", "")).cast("long")
    val isCjk = dominant === "cjk"
    val nWords = when(isCjk, nWordsCjk).otherwise(nWordsEn)
    val meanWordLen = when(isCjk,
      nonspace.cast("double") / nWordsCjk)
      .otherwise(wordChars.cast("double") / nWordsEn)
    val alphaFrac = when(isCjk,
      wordForming.cast("double") / nonspace)
      .otherwise(alphaWords.cast("double") / nWordsEn)
    val bulletFrac = bulletLines.cast("double") / nLines
    val ellipsisFrac = ellipsisLines.cast("double") / nLines
    val passEn = nWordsEn >= minWords && nWordsEn <= maxWords &&
      meanWordLen >= minMeanWord && meanWordLen <= maxMeanWord &&
      bulletFrac <= maxBulletFrac && ellipsisFrac <= maxEllipsisFrac &&
      alphaFrac >= minAlphaFrac && stopHits >= minStopHits
    val passCjk = nWordsCjk >= minWords && nWordsCjk <= maxWords &&
      bulletFrac <= maxBulletFrac && ellipsisFrac <= maxEllipsisFrac &&
      alphaFrac >= minAlphaFrac
    docs.select(col(idCol), dominant.as("dominant"),
      nWords.as("n_words"), meanWordLen.as("mean_word_len"),
      alphaFrac.as("alpha_frac"), bulletFrac.as("bullet_frac"),
      ellipsisFrac.as("ellipsis_frac"), stopHits.as("stop_hits"),
      when(isCjk, passCjk).otherwise(passEn).cast("long").as("pass"))
  }

  /** Gopher-style within-document repetition signal: fraction of word
    * n-grams that are duplicates of an earlier n-gram in the same document
    * (1 − distinct/total). 0.0 for null/short texts. Pure per-row column
    * expression — map-only, no shuffle at any scale. */
  def duplicateNgramFraction(text: Column, n: Int = 2): Column = {
    val total = size(split(lower(text), " ")) - (n - 1)
    // distinct n-gram count via the native single-pass WordShingles kernel
    // (the guard keeps its whole-text fallback branch unreachable); the
    // equivalent transform(sequence…)+array_distinct lambda tree costs
    // seconds of fixed codegen per query and re-slices per position
    when(text.isNull.or(total < 1), lit(0.0))
      .otherwise(lit(1.0) -
        size(shingles(text, n)).cast("double") / total.cast("double"))
  }

  /** SCRIPT-DISPATCHED [[duplicateNgramFraction]] — on a space-free
    * script the word form is not just miscalibrated but BLIND: the
    * whole document whitespace-splits to one "word", total n-grams
    * < 1, and the signal is hardwired 0.0 — a fully-repeated CJK spam
    * page reads as perfectly novel. Dispatch by [[dominantScriptExpr]]:
    * dominant != cjk keeps the EXACT legacy word-n-gram fraction
    * (spec-pinned equality); dominant == cjk measures CHARACTER
    * n-grams — 1 − distinct/total over all `length − n + 1` positions,
    * the same statistic at the script's natural token granularity.
    * Distinct char grams count via the all-positions
    * [[graft.functions.GramHashes]] kernel (one pass; a 2^-60 hash
    * collision under-counts distinct by 1 — immaterial to a fraction);
    * the oracle counts distinct SUBSTRINGS, the same number. */
  def duplicateNgramFractionScripted(text: Column, n: Int = 2): Column = {
    val t = coalesce(text, lit(""))
    // positions measured over the LOWERCASED string — casefolding can
    // change length (İ → i + combining dot), and the gram count must
    // agree with the string actually sliced
    val lt = lower(t)
    val totalChars = length(lt) - (n - 1)
    val charDup = when(totalChars < 1, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(graft.functions.VectorExpressions
          .gramHashes(lt, n))).cast("double") /
          totalChars.cast("double"))
    when(dominantScriptExpr(t) === "cjk", charDup)
      .otherwise(duplicateNgramFraction(text, n))
  }

  /** SCRIPT-DISPATCHED [[shingles]] — the join-key maker for cross-doc
    * boilerplate/dedup measures ([[graft.dedup.Dedup
    * .duplicatedShingleFraction]]): word shingles see a whole CJK doc
    * as one giant shingle, so cross-document boilerplate is invisible.
    * dominant != cjk → the EXACT legacy word-shingle kernel (spec-
    * pinned); dominant == cjk → DISTINCT lowercased character n-gram
    * STRINGS (first-occurrence order, matching the kernel's
    * convention) — the natural granularity, and the values join across
    * docs exactly like word shingles. Per-position slicing costs one
    * substring per char — the GramHashes cost class, honest for a
    * measure that must see every position. */
  def shinglesScripted(text: Column, n: Int = 3): Column = {
    val t = coalesce(text, lit(""))
    // slice and measure the SAME lowercased string (casefolding can
    // change length); the < n guard keeps sequence() ascending
    val lt = lower(t)
    val charGrams = when(length(lt) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(lt) - (n - 1)),
        i => lt.substr(i, lit(n)))))
    when(dominantScriptExpr(t) === "cjk", charGrams)
      .otherwise(shingles(text, n))
  }

  /** TF-IDF top-k terms per document (whitespace terms, lowercased;
    * sklearn-style smoothed idf = ln((1+N)/(1+df)) + 1).
    *
    * Shuffle ledger at 100 TB: one (doc, term) partial-agg shuffle for tf,
    * one term-keyed shuffle for df (counts only — hot terms are a single
    * long per partition thanks to map-side combine), the corpus size N is
    * a 1-row broadcast, and the final top-k window repartitions by doc.
    * In production prune stopwords/min-df first — they dominate df volume
    * and never reach any top-k. */
  def tfidfTopTerms(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", k: Int = 3): DataFrame = {
    val present = docs.filter(col(textCol).isNotNull)
    val tf = present
      .select(col(idCol).as(idCol),
        explode(split(lower(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = present.agg(count(lit(1)).cast("double").as("n_docs"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") *
        (log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))) + lit(1.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(idCol), col("term"), col("score"), col("rk"))
  }

  /** Benchmark decontamination: drop training documents that share any
    * word `n`-gram with the evaluation set (the standard guard against
    * test-set leakage into LLM training data).
    *
    * Eval shingles are deduped before the semi-join; at 100 TB the eval
    * side is tiny (benchmarks, not corpora), so Catalyst broadcasts it and
    * the train corpus is filtered map-side — the full text never shuffles,
    * only (id, shingle) pairs for the semi-join probe. Null-text training
    * rows produce no shingles and are trivially clean. */
  def decontaminate(train: DataFrame, evalSet: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    n: Int = 8): DataFrame = {
    val trainSh = train.select(col(idCol).as("id"),
      explode(shingles(col(textCol), n)).as("shingle"))
    val evalSh = evalSet
      .select(explode(shingles(col(textCol), n)).as("shingle"))
      .distinct()
    val contaminated = trainSh.join(evalSh, Seq("shingle"), "left_semi")
      .select(col("id")).distinct()
    train.join(contaminated, train(idCol) === contaminated("id"),
      "left_anti")
  }

  /** [[decontaminate]]'s scale path: when the eval/benchmark shingle set
    * is too large to broadcast exactly (point-in-time snapshots of many
    * benchmarks, contamination sweeps against other training corpora),
    * build a Bloom filter over the eval shingle hashes — one aggregation
    * whose result is `numBits/8` bytes regardless of eval size — and
    * probe it map-side as a literal. Same plan shape as Spark's own
    * runtime bloom joins (BloomFilterAggregate + BloomFilterMightContain,
    * both codegen-capable), with the guarantee that matters for
    * decontamination: NO FALSE NEGATIVES — every truly contaminated
    * training document is dropped; false positives only drop extra clean
    * docs at ~2% with the default 8 bits/item, which is the safe failure
    * direction for training data.
    *
    * Sizing: `numBits ≈ 8 × expected distinct eval shingles` gives ~2.2%
    * fp; 16× gives ~0.05%. */
  def bloomDecontaminate(train: DataFrame, evalSet: DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         n: Int = 8, expectedItems: Long = 1L << 20,
                         numBits: Long = 1L << 23): DataFrame = {
    require(expectedItems > 0 && numBits > 0)
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    val evalSh = evalSet
      .select(explode(shingles(col(textCol), n)).as("shingle"))
    val bloomAgg = Bridge.column(new BloomFilterAggregate(
      Bridge.catalystExpression(xxhash64(col("shingle"))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val bloomRow = evalSh.select(bloomAgg.as("bf")).head()
    if (bloomRow.isNullAt(0)) return train // empty eval set: nothing to drop
    val bloom = bloomRow.getAs[Array[Byte]](0)
    // the serialized filter rides the closure as a literal — one copy per
    // executor via the task broadcast, probed inside codegen
    val probe = Bridge.column(new BloomFilterMightContain(
      Literal(bloom, BinaryType),
      Bridge.catalystExpression(xxhash64(col("shingle")))))
    val contaminated = train
      .select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("shingle"))
      .filter(probe)
      .select("id").distinct()
    train.join(contaminated, train(idCol) === contaminated("id"),
      "left_anti")
  }

  /** Overlapping token-window chunking — the standard preprocessing step
    * for embedding / context-window-bounded training: each document yields
    * chunks of `chunkSize` whitespace tokens starting every
    * `chunkSize − overlap` tokens. Pure per-row generator (split +
    * sequence + posexplode + slice): map-only at any scale, chunk count
    * per row is ⌈tokens/step⌉ so output size is linear in corpus tokens.
    * Null text yields no chunks. `token_start` identifies the chunk
    * (chunk ordinal = token_start / step). */
  def chunkTokens(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", chunkSize: Int = 32,
                  overlap: Int = 8): DataFrame = {
    require(chunkSize > overlap && overlap >= 0,
      s"need chunkSize > overlap >= 0, got $chunkSize/$overlap")
    val step = chunkSize - overlap
    val words = wsTokens(col(textCol))
    docs
      .select(col(idCol), col(textCol), posexplode(
        sequence(lit(0), size(words) - 1, lit(step)))
        .as(Seq("pos", "token_start")))
      .select(col(idCol), col("token_start"),
        array_join(slice(wsTokens(col(textCol)), col("token_start") + 1,
          lit(chunkSize)), " ").as("chunk_text"))
  }

  /** Largest feasible mixture: per-stratum deterministic keep-rates that
    * hit target shares WITHOUT upsampling. With counts c_s and target
    * shares w_s (Σw = 1), the largest total T every stratum can serve is
    * T = min_s(c_s / w_s); each stratum then keeps rate_s = w_s·T / c_s
    * (a binding stratum — one where c_s/w_s equals T — keeps everything,
    * asserted via the binding PREDICATE rather than the floating-point
    * quotient, which can land at 0.999…). Returns (stratum, rate_ppm)
    * with the rate floored to parts-per-million — the same integer the
    * sampling predicate compares against, so engines agree exactly.
    *
    * A target stratum ABSENT from the corpus has c_s = 0, making T = 0 and
    * every present stratum's rate 0: the requested mixture is infeasible
    * and the sample comes back EMPTY — loudly, instead of silently
    * returning a mixture with the wrong composition.
    *
    * The counts aggregation is one map-side-combined pass; the result is
    * |strata| rows — broadcast it into [[mixtureSample]]. */
  def mixtureRates(docs: DataFrame, targetShares: Map[String, Double],
                   stratumCol: String = "source"): DataFrame = {
    require(targetShares.nonEmpty && targetShares.values.forall(_ > 0))
    val session = docs.sparkSession
    val shares = session.createDataFrame(
      targetShares.toSeq.map { case (k, v) => (k, v) })
      .toDF("stratum", "share")
    val rawCounts = docs.select(col(stratumCol).as("stratum"))
      .join(broadcast(shares.select("stratum")), Seq("stratum"), "left_semi")
      .groupBy("stratum").agg(count(lit(1)).as("c0"))
    val counts = shares.join(rawCounts, Seq("stratum"), "left")
      .select(col("stratum"), col("share"),
        coalesce(col("c0"), lit(0L)).as("c"))
    val t = counts.agg(min(col("c").cast("double") / col("share")).as("t"))
    counts.crossJoin(broadcast(t))
      .select(col("stratum"),
        when(col("c").cast("double") / col("share") <= col("t"),
          lit(1000000L))
          .otherwise(floor(least(lit(1.0),
            col("share") * col("t") / col("c").cast("double")) * 1000000L)
            .cast("long"))
          .as("rate_ppm"))
  }

  /** Apply [[mixtureRates]]: keep a row iff its portable hash bucket (ppm)
    * falls under its stratum's rate — deterministic, reproducible in any
    * engine with md5, and a single broadcast-join + map-side filter over
    * the corpus (the rates table is |strata| rows). */
  def mixtureSample(docs: DataFrame, rates: DataFrame,
                    idCol: String = "doc_id",
                    stratumCol: String = "source"): DataFrame =
    docs.join(broadcast(rates),
        docs(stratumCol) === rates("stratum"), "inner")
      .filter(hashBucket(docs(idCol), 1000000) < col("rate_ppm"))
      .drop("stratum", "rate_ppm")

  /** TEMPERATURE-BASED mixture rates — the multilingual/multi-source
    * rebalancing rule (mBERT/XLM-R exponential smoothing, the Llama-era
    * "sample source i ∝ pᵢ^τ" recipe): where [[mixtureRates]] takes the
    * target shares from the caller, this DERIVES them from the corpus
    * itself, qᵢ = pᵢ^τ / Σⱼ pⱼ^τ with pᵢ the stratum's document share.
    * ([[temperatureWeights]] reports the unnormalized/relative weights
    * and deliberately stops short of Σ-normalized rates because a
    * parallel float sum is order-dependent; THIS operator is the rate
    * path — the denominator is a fixed-order fold, see below.)
    * τ < 1 flattens the mix toward uniform (up-weights tail languages /
    * sources without fully inverting the head); τ = 1 is the identity
    * mix. Returns (stratum, n, rate_ppm) where rate_ppm is the
    * parts-per-million keep-rate hitting target counts tᵢ = qᵢ·total for
    * a `targetTotal`-document corpus, capped at 1 (no upsampling) —
    * feed it straight to [[mixtureSample]].
    *
    * Engine portability is why τ is restricted to {1, 0.5, 0.25}: those
    * exponents evaluate as sqrt chains, and IEEE-754 sqrt/div/mul are
    * correctly rounded in every engine, so every intermediate double is
    * bit-identical — `pow(x, τ)` for arbitrary τ goes through libm,
    * whose last-ulp behavior differs across engines and could flip the
    * ppm floor. The share denominator Σ pⱼ^τ is a FIXED-ORDER
    * sequential fold over the stratum-sorted weights (q178's
    * fixed-order-fold rule): a parallel sum's order is
    * engine/plan-dependent and would break bit parity.
    *
    * Shuffle ledger: one map-side-combined count over the corpus, then
    * everything runs on the |strata|-row table (catalog-sized,
    * broadcast). The apply step is [[mixtureSample]]'s broadcast-join +
    * map-side filter — nothing but the counts pass touches the corpus. */
  def temperatureRates(docs: DataFrame, targetTotal: Long,
                       tau: Double = 0.5,
                       stratumCol: String = "source"): DataFrame = {
    require(targetTotal > 0, "targetTotal must be positive")
    require(Set(1.0, 0.5, 0.25).contains(tau),
      s"tau must be 1, 0.5 or 0.25 (bit-portable sqrt chain), got $tau")
    def pTau(p: Column): Column = tau match {
      case 1.0  => p
      case 0.5  => sqrt(p)
      case 0.25 => sqrt(sqrt(p))
    }
    val counts = docs.filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").cast("double").as("n_total"))
    val w = counts.crossJoin(broadcast(total))
      .select(col("stratum"), col("n"),
        pTau(col("n").cast("double") / col("n_total")).as("w"))
    // Σ w in stratum order — one sequential fold, not a parallel sum
    val denom = w.agg(aggregate(
      array_sort(collect_list(struct(col("stratum"), col("w")))),
      lit(0.0), (acc, x) => acc + x.getField("w")).as("denom"))
    w.crossJoin(broadcast(denom))
      .select(col("stratum"), col("n"),
        floor(least(lit(1.0),
          (col("w") / col("denom")) * lit(targetTotal.toDouble) /
            col("n").cast("double")) * 1000000L)
          .cast("long").as("rate_ppm"))
  }

  /** DoReMi-style domain reweighting — one exponentiated-gradient step
    * over per-domain excess loss (Xie et al. 2023's Domain Reweighting
    * with Minimax Optimization, reduced to its closed-form unigram
    * instance). DoReMi's signal is the per-domain EXCESS LOSS — proxy
    * model loss minus reference model loss; for unigram LMs that gap
    * needs no trained model pair at all: scoring domain d's tokens under
    * the corpus-mix LM vs its own in-domain LM gives
    * L_mix(d) − L_in(d) = Σ_w p̂_d(w)·ln(p̂_d(w)/p̂(w)) = KL(p̂_d ‖ p̂) ≥ 0,
    * so the domains whose token distribution diverges most from the mix
    * get up-weighted — the DoReMi direction, computed exactly. The EG
    * update is applied in its small-η LINEAR regime
    * (exp(η·λ) ≈ 1 + η·λ): exp() is the one cross-engine non-portable
    * step (the q148 rule), while 1 + η·λ over the 2^-12-gridded λ with
    * dyadic η is exact dyadic arithmetic — bit-portable like
    * [[logisticTrain]]'s residuals. Returns one row per domain:
    * (domain, n_docs, n_tokens, excess_loss — the gridded KL in nats,
    * weight_ppm — the updated mixture weight, Σ ≈ 1e6).
    *
    * Shuffle ledger: one (domain, token) count aggregation (map-side
    * combined — the TYPE table, vocabulary-bounded per domain); the
    * token-marginal and domain-marginal reductions run on that type
    * table, never on instances; the 1-row corpus total broadcasts. With
    * `portableFold` (default, oracle mode) each domain's KL is a
    * sequential fold over its token-sorted term list — order-fixed so
    * the float sum replays engine-for-engine, at the cost of one
    * |domain vocab|-sized array per domain in the final agg. At real
    * vocabulary scale flip `portableFold = false`: a plain partial-agged
    * sum(term), order-dependent in the last ulp and shuffle-identical
    * otherwise. The |domains|-row tail (grid, update, normalize) rides
    * broadcast 1-row frames; domain count is catalog-sized. */
  def domainReweight(docs: DataFrame, eta: Double = 1.0,
                     domainCol: String = "source",
                     textCol: String = "text",
                     portableFold: Boolean = true): DataFrame = {
    require(eta >= 0 && eta * 4096 == math.floor(eta * 4096),
      s"eta must be non-negative on the 2^-12 grid (dyadic), got $eta")
    val base = docs.filter(col(textCol).isNotNull &&
      col(domainCol).isNotNull)
    val nDocs = base.groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("n_docs"))
    val tok = base
      .select(col(domainCol).as("domain"),
        explode(wsTokens(lower(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
    val cdw = tok.groupBy("domain", "token").agg(count(lit(1)).as("c_dw"))
    val nd = cdw.groupBy("domain").agg(sum("c_dw").as("n_d"))
    val cw = cdw.groupBy("token").agg(sum("c_dw").as("c_w"))
    val nt = cdw.agg(sum("c_dw").cast("double").as("n_tot"))
    val term = cdw.join(nd, "domain").join(cw, "token")
      .crossJoin(broadcast(nt))
      .select(col("domain"), col("token"),
        ((col("c_dw").cast("double") / col("n_d").cast("double")) *
          log((col("c_dw").cast("double") * col("n_tot")) /
            (col("c_w").cast("double") * col("n_d").cast("double"))))
          .as("term"))
    val kl =
      if (portableFold)
        term.groupBy("domain").agg(aggregate(
          array_sort(collect_list(struct(col("token"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("kl"))
      else term.groupBy("domain").agg(sum("term").as("kl"))
    val upd = kl.join(nd, "domain").crossJoin(broadcast(nt))
      .select(col("domain"), col("n_d"),
        (floor(col("kl") * 4096 + 0.5) / 4096).as("excess_loss"),
        (col("n_d").cast("double") / col("n_tot")).as("share"))
      .withColumn("raw",
        col("share") * (lit(1.0) + lit(eta) * col("excess_loss")))
    // Σ raw in domain order — one sequential fold, not a parallel sum
    val denom = upd.agg(aggregate(
      array_sort(collect_list(struct(col("domain"), col("raw")))),
      lit(0.0), (acc, x) => acc + x.getField("raw")).as("denom"))
    upd.crossJoin(broadcast(denom))
      .join(nDocs, "domain")
      .select(col("domain"), col("n_docs"), col("n_d").as("n_tokens"),
        col("excess_loss"),
        floor((col("raw") / col("denom")) * 1000000L).cast("long")
          .as("weight_ppm"))
  }

  /** Substring candidate vocabulary for unigram-LM segmentation — the
    * SentencePiece seeding step: every substring of length ≤ `maxPiece`
    * of the DISTINCT word table is a candidate piece; ALL single
    * characters are kept (the character-coverage guarantee that makes
    * every word segmentable) plus the top `topK` multi-character pieces
    * by (count DESC, piece ASC). lnp = ln(count / Σ kept counts) — the
    * unigram log-probability [[unigramSegment]] consumes. Counts are
    * over (word, start) occurrences in the distinct-word table, so the
    * whole build is vocabulary-sized: one explode + one count agg + one
    * tiny top-k. */
  def substringVocab(words: DataFrame, maxPiece: Int = 4,
                     topK: Int = 200,
                     wordCol: String = "word"): DataFrame = {
    require(maxPiece >= 1 && topK >= 0, "bad maxPiece/topK")
    val w = words.select(col(wordCol).as("word")).distinct()
    val subs = w.select(explode(expr(
      s"""flatten(transform(sequence(1, length(word)), i ->
         |  transform(sequence(1, least($maxPiece, length(word) - i + 1)),
         |    l -> substr(word, i, l))))""".stripMargin)).as("piece"))
    val counts = subs.groupBy("piece").agg(count(lit(1)).as("n"))
    val kept = counts.filter(length(col("piece")) === 1)
      .unionByName(counts.filter(length(col("piece")) > 1)
        .orderBy(col("n").desc, col("piece")).limit(topK))
    val total = kept.agg(sum("n").cast("double").as("tot"))
    kept.crossJoin(broadcast(total))
      .select(col("piece"), log(col("n") / col("tot")).as("lnp"))
  }

  /** Driver replay of [[substringVocab]] over an in-memory DISTINCT
    * word list — the seed step of [[unigramTrain]]'s driver fast path.
    * Mirrors the relational form expression by expression: substring
    * positions are CODE POINTS (the SQL substr unit), the single-char
    * class is code-point length 1, the multi-char prune orders by
    * (n DESC, piece ASC in UTF-8 binary order — Spark's string
    * ordering), lnp = StrictMath.log(n / Σn) with the count cast to
    * double only at the division (the engine's own Log + Divide). */
  private[graft] def substringVocabDriver(words: Seq[String],
                                          maxPiece: Int = 4,
                                          topK: Int = 200)
      : Seq[(String, Double)] = {
    require(maxPiece >= 1 && topK >= 0, "bad maxPiece/topK")
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    words.foreach { w =>
      val len = w.codePointCount(0, w.length)
      val idx = new Array[Int](len + 1)
      var ci = 0
      var p = 0
      while (p < len) {
        idx(p) = ci
        ci += Character.charCount(w.codePointAt(ci))
        p += 1
      }
      idx(len) = w.length
      var i = 0
      while (i < len) {
        var l = 1
        val lmax = math.min(maxPiece, len - i)
        while (l <= lmax) {
          val piece = w.substring(idx(i), idx(i + l))
          counts.update(piece, counts.getOrElse(piece, 0L) + 1L)
          l += 1
        }
        i += 1
      }
    }
    def cp1(s: String): Boolean = s.codePointCount(0, s.length) == 1
    val u8lt = (a: String, b: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String
          .fromString(b)) < 0
    val all = counts.toSeq
    val singles = all.filter(x => cp1(x._1))
    val multis = all.filterNot(x => cp1(x._1))
      .sortWith((a, b) => if (a._2 != b._2) a._2 > b._2
        else u8lt(a._1, b._1))
      .take(topK)
    val kept = singles ++ multis
    val tot = kept.foldLeft(0L)((acc, x) =>
      Math.addExact(acc, x._2)).toDouble
    kept.map { case (p, n) => (p, StrictMath.log(n.toDouble / tot)) }
  }

  /** Gate for [[unigramTrain]]'s driver fast path (the
    * [[defaultBpeDriverMaxWords]] convention on the same distinct-word
    * frequency ledger); env-overridable, 0 forces the distributed
    * loop. */
  private[graft] val defaultUnigramDriverMaxWords: Long =
    sys.env.get("SPARK_GRAFT_UNIGRAM_DRIVER_MAX_WORDS")
      .flatMap(_.toLongOption).getOrElse(2000000L)

  /** UNIGRAM-LM VITERBI SEGMENTATION (Kudo 2018, the SentencePiece
    * model family) — for each distinct word, the maximum-likelihood
    * segmentation into vocabulary pieces: best(i) = max_j best(j) +
    * lnp(word[j..i]) over piece lengths ≤ `maxPiece`. This is the
    * E-step of the unigram trainer and the INFERENCE half of the
    * tokenizer ([[bpeEncodeWord]]'s probabilistic sibling: BPE
    * segments by merge order, unigram by likelihood). Ties are fully
    * deterministic: argmax by (score, −j, piece, segs) struct order —
    * equal-likelihood paths resolve to the latest split point, then
    * lexicographically. Returns one row per word ≤ `maxLen` chars:
    * (word, n_pieces, score — the summed lnp, rounded 6dp at the edge
    * per the log-score convention — and `segs`, the '|'-joined piece
    * sequence). Words with an unreachable position (vocab missing one
    * of their characters) drop out — feed a [[substringVocab]] vocab
    * (full char coverage) to keep every word.
    *
    * Scale shape: ONE codegen'd projection over the DISTINCT-WORD
    * domain (vocabulary-sized, Zipf-bounded — the [[bpeTrain]] ledger
    * class, corpus text is never touched): the vocab collects
    * driver-side (it is vocabulary-sized BY DEFINITION — the
    * [[bpeMergesBroadcast]] operator-constant class) and ships to
    * executors once as [[graft.functions.UnigramSegmentWord]]'s
    * broadcast map; each word costs O(len · maxPiece) hash probes.
    * Replaces the `maxLen`-round relational DP
    * ([[unigramSegmentPlan]], kept as the spec-pinned reference) whose
    * per-round localCheckpoint barriers dominated training latency —
    * bit-equal results, differential-spec-proven. */
  def unigramSegment(words: DataFrame, vocab: DataFrame,
                     maxLen: Int = 12, maxPiece: Int = 4,
                     wordCol: String = "word"): DataFrame = {
    require(maxLen >= 1 && maxPiece >= 1, "bad maxLen/maxPiece")
    val spark = words.sparkSession
    val entries = vocab
      .select(col("piece").cast("string"), col("lnp").cast("double"))
      .filter(col("piece").isNotNull && col("lnp").isNotNull)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val bc = unigramVocabBroadcast(spark, entries)
    val out = words.select(col(wordCol).as("word")).distinct()
      .filter(length(col("word")).between(1, maxLen))
      .withColumn("_seg", graft.functions.UnigramSegmentWord(
        col("word"), bc, maxPiece))
      .filter(col("_seg").isNotNull)
      .select(col("word"), col("_seg.n_pieces").as("n_pieces"),
        round(col("_seg.score"), 6).as("score"),
        col("_seg.segs").as("segs"))
    out
  }

  /** Broadcast payload for [[graft.functions.UnigramSegmentWord]]: the
    * (piece → lnp) vocabulary as one executor-resident hash map —
    * vocabulary-sized (an operator CONSTANT, the
    * [[bpeMergesBroadcast]] class: tens of thousands of entries, a few
    * MB), shipped once per executor. Duplicate pieces are rejected —
    * the relational DP's vocab join would fan out where a map cannot,
    * so a duplicate signals a caller bug, not a tie to resolve. */
  def unigramVocabBroadcast(spark: org.apache.spark.sql.SparkSession,
      vocab: Seq[(String, Double)])
      : org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, java.lang.Double]] = {
    require(vocab.nonEmpty, "unigram vocab must not be empty")
    val m = new java.util.HashMap[String, java.lang.Double](
      vocab.size * 2)
    vocab.foreach { case (piece, lnp) =>
      val prev = m.put(piece, java.lang.Double.valueOf(lnp))
      require(prev == null,
        s"duplicate vocab piece '$piece' — unigram vocabularies are " +
          "distinct by construction (every producer group-bys piece)")
    }
    spark.sparkContext.broadcast(m)
  }

  /** The RELATIONAL form of [[unigramSegment]] — the `maxLen` unrolled
    * join+argmax DP rounds the kernel collapsed, kept as the
    * plan-level reference implementation: the differential spec pins
    * kernel ≡ plan bit-for-bit (score doubles, tie order, word drops),
    * so any future kernel edit re-proves itself against the relational
    * semantics rather than against remembered behavior. Prefer
    * [[unigramSegment]] everywhere else — same result, one projection
    * instead of `maxLen` localCheckpoint barriers. */
  def unigramSegmentPlan(words: DataFrame, vocab: DataFrame,
                         maxLen: Int = 12, maxPiece: Int = 4,
                         wordCol: String = "word"): DataFrame = {
    require(maxLen >= 1 && maxPiece >= 1, "bad maxLen/maxPiece")
    val w = words.select(col(wordCol).as("word")).distinct()
      .filter(length(col("word")).between(1, maxLen))
    val edges = w
      .select(col("word"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("i"),
        explode(sequence(lit(1), least(lit(maxPiece), col("i"))))
          .as("plen"))
      .select(col("word"), col("i"), (col("i") - col("plen")).as("j"),
        expr("substr(word, i - plen + 1, plen)").as("piece"))
      .join(broadcast(vocab.select(col("piece"), col("lnp"))), "piece")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count()
    var best = w.select(col("word"), lit(0).as("i"),
      lit(0.0).as("score"), lit(0L).as("np"), lit("").as("segs"))
      .localCheckpoint()
    for (i <- 1 to maxLen) {
      val prev = best.select(col("word"), col("i").as("j"),
        col("score").as("_ps"), col("np").as("_pn"),
        col("segs").as("_pg"))
      val stepRows = edges.filter(col("i") === i)
        .join(prev, Seq("word", "j"))
        .select(col("word"), col("i"),
          (col("_ps") + col("lnp")).as("score"),
          (col("_pn") + 1L).as("np"),
          when(col("_pg") === "", col("piece"))
            .otherwise(concat(col("_pg"), lit("|"), col("piece")))
            .as("segs"),
          col("j"), col("piece"))
      val bestI = stepRows.groupBy("word")
        .agg(max_by(struct(col("i"), col("score"), col("np"),
            col("segs")),
          struct(col("score"), (-col("j")).as("nj"), col("piece"),
            col("segs"))).as("_b"))
        .select(col("word"), col("_b.i").as("i"),
          col("_b.score").as("score"), col("_b.np").as("np"),
          col("_b.segs").as("segs"))
      // per-round localCheckpoint measured FASTER than every-4th
      // (4.6 s vs 9.7 s warm at local[4]): the tables are tiny, so the
      // materialization is cheap while an un-checkpointed union lineage
      // recomputes the last rounds inside every next join
      best = best.unionByName(bestI).localCheckpoint()
    }
    val out = best
      .join(w.select(col("word"), length(col("word")).as("_len")), "word")
      .filter(col("i") === col("_len"))
      .select(col("word"), col("np").as("n_pieces"),
        round(col("score"), 6).as("score"), col("segs"))
    edges.unpersist(false)
    out
  }

  /** UNIGRAM-LM EM TRAINING ROUND — the M-step closing the
    * [[unigramSegment]] E-step into the SentencePiece training loop
    * (Kudo 2018): segment every corpus word under the CURRENT vocab,
    * recount pieces weighted by word frequency, and re-estimate
    * lnp' = ln((n + 1) / (Σn + |vocab|)) — add-one smoothing so pieces
    * that won no segmentation this round (including the protected
    * single characters) keep a finite floor instead of −∞. Fixed-round
    * EM is the [[bpeTrain]] pattern: callers chain rounds, pruning the
    * lowest-n multi-character pieces between them (the SentencePiece
    * shrink step) with plain DataFrame filters. Returns the updated
    * vocab (piece, n, lnp — rounded 6dp, the log-score convention).
    * Words longer than `maxLen` sit outside the DP and contribute no
    * counts — the documented subdomain of the segmenter.
    *
    * Scale shape: one corpus token explode → word-frequency agg
    * (vocabulary-sized from there on): the DP inherits
    * [[unigramSegment]]'s ledger, the recount is one piece explode over
    * the distinct-word SEGMENTATIONS (≤ maxLen pieces per word) + one
    * count agg; the 1-row smoothing total broadcasts. */
  def unigramEmRound(docs: DataFrame, vocab: DataFrame,
                     maxLen: Int = 12, maxPiece: Int = 4,
                     textCol: String = "text",
                     preTokens: Column => Column = wordDomain)
      : DataFrame = {
    val freqs = docs.filter(col(textCol).isNotNull)
      .select(explode(preTokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val seg = unigramSegment(freqs, vocab, maxLen, maxPiece)
    val counts = seg.join(freqs, "word")
      .select(explode(split(col("segs"), "\\|")).as("piece"), col("freq"))
      .groupBy("piece").agg(sum("freq").as("n"))
    val kept = vocab.select(col("piece"))
      .join(counts, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("n"), lit(0L)).as("n"))
    val tot = kept.agg(sum("n").as("tn"), count(lit(1)).as("k"))
    kept.crossJoin(broadcast(tot))
      .select(col("piece"), col("n"),
        round(log((col("n") + 1L).cast("double") /
          (col("tn") + col("k")).cast("double")), 6).as("lnp"))
  }

  /** FULL UNIGRAM TRAINER — the chained form [[unigramEmRound]]'s
    * contract describes, run end to end: seed with [[substringVocab]],
    * then `rounds` × { segment every corpus word under the CURRENT
    * vocab (E-step), recount pieces weighted by word frequency, PRUNE
    * to `targetVocab` (every single-char piece is protected — coverage
    * — plus the top multi-char pieces by (n DESC, piece)), re-estimate
    * lnp' = ln((n+1)/(Σn+|vocab|)) over the pruned set (M-step) }.
    * Chained lnp values snap to the 2^-20 dyadic grid (the
    * cross-engine ln recipe) so every later round's DP consumes
    * bit-portable scores. Returns the final (piece, n, lnp); ship it
    * with [[TokenizerFiles.writeTokenizerJsonUnigram]] and
    * [[TokenizerFiles.loadTokenizer]] reads it back for
    * [[unigramSegment]].
    *
    * Scale shape: per round, exactly [[unigramEmRound]]'s ledger (the
    * distinct-word DP + one piece recount + vocabulary-sized prune/
    * re-estimate); the word-frequency table persists across rounds;
    * the single scalar collect is the alphabet size. */
  def unigramTrain(docs: DataFrame, targetVocab: Int, rounds: Int = 2,
                   maxLen: Int = 12, maxPiece: Int = 4,
                   textCol: String = "text",
                   preTokens: Column => Column = wordDomain,
                   driverMaxWords: Long = defaultUnigramDriverMaxWords)
      : DataFrame = {
    require(rounds >= 1 && targetVocab >= 1, "bad rounds/targetVocab")
    val spark = docs.sparkSession
    import spark.implicits._
    val freqs = docs.filter(col(textCol).isNotNull)
      .select(explode(preTokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .persist()
    val nWords = freqs.count()
    // Small-vocabulary driver fast path (the bpeTrainFromWords gate
    // applied to the same distinct-word frequency ledger): below the
    // gate the seed build and every EM round run on driver arrays —
    // the distributed rounds pay a seed collect + one recount agg +
    // collect PER ROUND over a vocabulary-sized table (q336: 17 jobs
    // at sf0.1, almost all scheduling latency). The replay is
    // bit-identical by construction: the Viterbi step calls the SAME
    // UnigramSegmentWord.kernel the distributed projection generates
    // code for, the seed replay mirrors substringVocab expression by
    // expression (code-point substrings, UTF8 (n desc, piece) prune
    // order, n/tot in doubles, StrictMath.log — the engine's own Log),
    // and the recount is addExact like the ANSI sum. Parity-specced
    // against the distributed loop; above the gate (a 100 TB corpus's
    // word table) the distributed loop is unchanged.
    val driverRows: Option[Array[(String, Long)]] =
      if (driverMaxWords > 0 && nWords <= driverMaxWords) {
        val rows = freqs.collect().map(r => (r.getString(0), r.getLong(1)))
        freqs.unpersist(false)
        Some(rows)
      } else None
    // The vocabulary lives on the DRIVER between rounds (it is
    // vocabulary-sized BY DEFINITION — the unigramSegment collect
    // already assumed exactly this): per round the only distributed
    // work is the piece-recount aggregation over the persisted word
    // table, collected back vocabulary-sized. The former DataFrame
    // round-trip spent a localCheckpoint barrier + count + limit +
    // crossJoin per round on frames of a few hundred rows (q336: 34
    // jobs at sf0.1). Prune/re-estimate arithmetic is replayed
    // exactly: UTF8String order for the (n desc, piece) prune,
    // code-point length for the single-char class, StrictMath.log —
    // the engine's own log — snapped to the same 2^-20 grid.
    def cpLen(s: String): Int = s.codePointCount(0, s.length)
    val u8 = (a: String, b: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    var vocab: Seq[(String, Double)] = driverRows match {
      case Some(rows) => substringVocabDriver(rows.map(_._1), maxPiece)
      case None => substringVocab(freqs, maxPiece)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    }
    var outRows: Seq[(String, Long, Double)] = Nil
    for (_ <- 1 to rounds) {
      val bc = unigramVocabBroadcast(spark, vocab)
      // seg ≡ unigramSegment(freqs, vocab) ⋈ freqs: freqs IS the
      // distinct word domain, so the join the old round paid to
      // re-attach frequencies is a 1:1 self-join folded away here
      val counts: Map[String, Long] = driverRows match {
        case Some(rows) =>
          // the distributed projection's exact kernel, driver-called
          val ker = new graft.functions.UnigramSegmentWord(
            org.apache.spark.sql.catalyst.expressions.Literal
              .create("", org.apache.spark.sql.types.StringType),
            bc, maxPiece)
          val m = scala.collection.mutable.HashMap.empty[String, Long]
          rows.foreach { case (word, freq) =>
            if (cpLen(word) >= 1 && cpLen(word) <= maxLen) {
              val seg = ker.kernel(
                org.apache.spark.unsafe.types.UTF8String.fromString(word))
              if (seg != null) {
                seg.getUTF8String(2).toString.split("\\|", -1)
                  .foreach { piece =>
                    m.update(piece,
                      Math.addExact(m.getOrElse(piece, 0L), freq))
                  }
              }
            }
          }
          m.toMap
        case None => freqs
          .filter(length(col("word")).between(1, maxLen))
          .select(graft.functions.UnigramSegmentWord(col("word"), bc,
            maxPiece).as("_seg"), col("freq"))
          .filter(col("_seg").isNotNull)
          .select(explode(split(col("_seg.segs"), "\\|")).as("piece"),
            col("freq"))
          .groupBy("piece").agg(sum("freq").as("n"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      }
      val withN = vocab.map { case (p, _) => (p, counts.getOrElse(p, 0L)) }
      val singles = withN.filter(x => cpLen(x._1) == 1)
      val keepMulti = math.max(0L, targetVocab - singles.size.toLong)
      val multis = withN.filter(x => cpLen(x._1) > 1)
        .sortWith((a, b) =>
          if (a._2 != b._2) a._2 > b._2 else u8(a._1, b._1) < 0)
        .take(keepMulti.toInt)
      val pruned = singles ++ multis
      val tn = pruned.foldLeft(0L)((acc, x) => Math.addExact(acc, x._2))
      val k = pruned.size.toLong
      outRows = pruned.map { case (p, n) =>
        (p, n, math.floor(StrictMath.log((n + 1L).toDouble /
          (tn + k).toDouble) * 1048576.0 + 0.5) / 1048576.0)
      }
      vocab = outRows.map(r => (r._1, r._3))
    }
    freqs.unpersist(false)
    outRows.toDF("piece", "n", "lnp")
  }

  /** Real token budgets under a UNIGRAM tokenizer — the honest
    * integration [[TokenizerFiles.tokenCounter]] refuses to fake:
    * segment the DISTINCT-WORD domain ONCE ([[unigramSegment]] — the
    * corpus-shaped cost runs exactly once, visibly), join each word's
    * piece count back, and sum per document. Words outside the DP's
    * subdomain (longer than `maxLen`) fall back to their character
    * count — the unigram worst case, so budgets never undercount.
    * Returns (idCol, n_words, n_tokens).
    *
    * To PACK by these budgets: join the counts onto the docs and pass
    * `countWith = Some(_ => col("n_tokens"))` to the packer — the
    * counter lambda may ignore the text column and read any column of
    * the (pre-joined) frame.
    *
    * Scale shape: one (doc, word) explode, the [[unigramSegment]]
    * distinct-word ledger, one word-keyed join back (AQE broadcasts
    * the vocabulary-sized count table), one per-doc agg. */
  def unigramTokenCounts(docs: DataFrame, vocab: DataFrame,
                         idCol: String = "doc_id",
                         textCol: String = "text",
                         maxLen: Int = 12, maxPiece: Int = 4,
                         preTokens: Column => Column = wordDomain)
      : DataFrame = {
    // measured NOT persisted (cf. the budget selectors, where the
    // persist won): caching the (id, word) stream for its two
    // consumers pinned a 32-partition cache AQE could not coalesce —
    // more tasks and +2 jobs cost more than the saved re-explode at
    // bench scale; at 100 TB the explode is map-only over the scan
    val dtok = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        explode(preTokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
    val domain = dtok.select("word").distinct()
    val seg = unigramSegment(domain, vocab, maxLen, maxPiece)
    val perWord = domain
      .join(seg.select(col("word"), col("n_pieces")), Seq("word"), "left")
      .select(col("word"),
        coalesce(col("n_pieces"), length(col("word")).cast("long"))
          .as("_wt"))
    dtok.join(perWord, Seq("word"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"), sum("_wt").as("n_tokens"))
  }

  /** Corpus vocabulary: token → document-independent occurrence count,
    * top `k` by count. One explode + map-side-combined aggregation; the
    * final top-k is an orderBy(limit) over the distinct-token table, which
    * is vastly smaller than the corpus. Empty tokens (runs of spaces) are
    * dropped; case-folded. */
  def vocabulary(docs: DataFrame, textCol: String = "text",
                 k: Int = 100): DataFrame =
    docs.select(explode(wsTokens(lower(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Token novelty in ingestion order: per document, the fraction of its
    * DISTINCT tokens never seen in any EARLIER document (id order =
    * arrival order; a token's introducer is the min id containing it) —
    * the corpus-freshness curve. Novelty collapsing toward 0 over a
    * crawl means the pipeline is re-ingesting the same material; a
    * cheap leading indicator before any dedup pass runs. Same
    * no-pair-generation shape as
    * [[graft.dedup.Dedup.duplicatedShingleFraction]]: one first-seen
    * aggregation over the (token, id) inverted index, one join back,
    * one per-doc aggregation. Returns
    * (idCol, n_distinct_tokens, n_novel, novelty). */
  def tokenNovelty(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val inv = docs.select(col(idCol).cast("long").as("id"),
        explode(array_distinct(wsTokens(lower(col(textCol))))).as("token"))
      .filter(length(col("token")) > 0)
    val first = inv.groupBy("token").agg(min("id").as("first_id"))
    inv.join(first, "token")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_distinct_tokens"),
        sum(when(col("first_id") === col("id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_distinct_tokens"))
  }

  /** Per-group nucleus (top-p) vocabulary: for each group (language,
    * source…), the smallest prefix of tokens — ordered by count DESC,
    * token ASC for determinism — whose cumulative count covers `p` of
    * the group's token mass. The vocab-truncation rule (keep the nucleus,
    * map the tail to <unk>) tokenizer builds use, and a per-group
    * skew/diversity lens: a tiny nucleus at p=0.9 means templated text.
    * A token is kept iff the mass BEFORE it is still short of p·total,
    * so the nucleus always crosses the threshold with its last member.
    *
    * Scale: the windows run over the (group, token) COUNT table —
    * vocabulary-sized (Heaps' law), orders of magnitude below the
    * corpus — partitioned by group; the |groups|-row totals broadcast.
    * Returns (groupCol, token, cnt, cum). */
  def nucleusVocab(docs: DataFrame, p: Double,
                   groupCol: String = "lang",
                   textCol: String = "text"): DataFrame = {
    require(p > 0 && p <= 1, s"p must be in (0, 1], got $p")
    val counts = docs.select(col(groupCol),
        explode(wsTokens(lower(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(groupCol, "token").agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(groupCol).agg(sum("cnt").as("_total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("cnt").desc, col("token"))
    counts.join(broadcast(totals), Seq(groupCol))
      .withColumn("cum", sum("cnt").over(w))
      .filter(col("cum") - col("cnt") < col("_total") * p)
      .select(col(groupCol), col("token"), col("cnt"), col("cum"))
  }

  /** Zipf power-law fit over the top-`maxVocab` token frequencies: the
    * least-squares slope (and intercept) of ln(freq) on ln(rank) — the
    * dataset-card statistic that flags unnatural corpora (natural text
    * slopes ≈ −1; boilerplate/templated corpora flatten, keyword-stuffed
    * ones steepen). Cost beyond [[vocabulary]] is one window + one
    * aggregation over the `maxVocab`-row table, never the corpus; the
    * report is one row (n_tokens, slope, intercept). Ranks tie-break on
    * token for determinism; computed doubles round at the query edge
    * like every cross-engine float. */
  def zipfSlope(docs: DataFrame, textCol: String = "text",
                maxVocab: Int = 100): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("token"))
    val xy = vocabulary(docs, textCol, maxVocab)
      .withColumn("rk", row_number().over(w))
      .select(log(col("rk").cast("double")).as("x"),
        log(col("n").cast("double")).as("y"))
    val s = xy.agg(count(lit(1)).cast("double").as("c"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val slope = (col("c") * col("sxy") - col("sx") * col("sy")) /
      (col("c") * col("sxx") - col("sx") * col("sx"))
    s.select(col("c").cast("long").as("n_tokens"), slope.as("slope"),
        ((col("sy") - slope * col("sx")) / col("c")).as("intercept"))
  }

  /** Heaps'-law vocabulary-growth fit per group — V(n) ≈ K·nᵝ (Heaps
    * 1978; Herdan's law): how fast each source's vocabulary grows as its
    * corpus grows, the scaling-curve gauge behind "will more of this
    * source keep adding new types?" (β → 1: templated ids/noise keep
    * minting tokens; β ≪ 1: saturated natural text — reads directly on
    * dedup and mixing decisions).
    *
    * Checkpoints are POWER-OF-TWO document ranks per group (log-spaced,
    * the right abscissa for a log-log fit; the r & (r−1) = 0 test is
    * bit-identical cross-engine): at rank r, x_r = tokens in the first r
    * docs (by id order), y_r = distinct tokens in the first r docs —
    * computed exactly via first-occurrence ranks, so "distinct at every
    * prefix" costs ONE integer prefix-sum window, not a distinct per
    * checkpoint. OLS on (ln x, ln y) with all five sums accumulated by
    * rank-sorted sequential folds (the [[domainReweight]] portability
    * idiom — bit-identical to the oracle's list_reduce), closed-form
    * slope/intercept; degenerate fits (single point, zero variance)
    * return NULL rather than ±Inf. The intercept ships as ln_k — exp()
    * is cross-engine non-portable, callers exponentiate.
    *
    * Scale shape: two corpus scans (token counts; first-occurrence
    * explode), a (group, token) min-reduction — the vocabulary ledger
    * class — then everything lives on the |docs-per-group| rank domain:
    * two integer prefix-sum windows partitioned by group, a ~log₂(n)
    * point set per group, and a |groups|-row fold. No pair joins, no
    * global sort. Output: (group, n_points, beta, ln_k, r2). */
  def heapsLawFit(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  groupCol: String = "source"): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val dr = docs.filter(col(textCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("g"), col(idCol).as("id"),
        filter(wsTokens(lower(col(textCol))), w => length(w) > 0).as("tk"))
      .withColumn("nt", size(col("tk")).cast("long"))
      .withColumn("r", row_number()
        .over(W.partitionBy("g").orderBy("id")).cast("long"))
    val cum = W.partitionBy("g").orderBy("r")
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val ct = dr.withColumn("cumtok", sum("nt").over(cum))
    val nb = dr.select(col("g"), col("r"), explode(col("tk")).as("token"))
      .groupBy("g", "token").agg(min("r").as("fr"))
      .groupBy(col("g"), col("fr").as("r"))
      .agg(count(lit(1)).as("newt"))
    val pts = ct.select(col("g"), col("r"), col("cumtok"))
      .join(nb, Seq("g", "r"), "left")
      .withColumn("cumdist",
        sum(coalesce(col("newt"), lit(0L))).over(cum))
      .filter((col("r").bitwiseAND(col("r") - 1)) === 0 &&
        col("cumtok") > 0 && col("cumdist") > 0)
      // ln-ULP guard: JVM StrictMath.log and glibc log disagree by 1 ULP
      // on some inputs (e.g. ln 74) — snap the coordinates to the 2^-20
      // dyadic grid (the domainReweight 4096-grid precedent) so every
      // downstream product and fold starts from BIT-IDENTICAL operands
      .select(col("g"),
        (floor(log(col("cumtok").cast("double")) * 1048576.0 + 0.5)
          / 1048576.0).as("lx"),
        (floor(log(col("cumdist").cast("double")) * 1048576.0 + 0.5)
          / 1048576.0).as("ly"),
        col("r"))
    val grouped = pts.groupBy(col("g").as(groupCol))
      .agg(count(lit(1)).as("n_points"),
        array_sort(collect_list(struct(col("r"), col("lx"), col("ly"))))
          .as("l"))
    def fold(f: Column => Column) =
      aggregate(col("l"), lit(0.0), (acc, x) => acc + f(x))
    val s = grouped.select(col(groupCol), col("n_points"),
      fold(_.getField("lx")).as("sx"),
      fold(_.getField("ly")).as("sy"),
      fold(x => x.getField("lx") * x.getField("ly")).as("sxy"),
      fold(x => x.getField("lx") * x.getField("lx")).as("sxx"),
      fold(x => x.getField("ly") * x.getField("ly")).as("syy"))
    val c = col("n_points").cast("double")
    val denx = c * col("sxx") - col("sx") * col("sx")
    val deny = c * col("syy") - col("sy") * col("sy")
    val num = c * col("sxy") - col("sx") * col("sy")
    val beta = num / denx
    s.select(col(groupCol), col("n_points"),
      when(denx === 0.0, lit(null)).otherwise(beta).as("beta"),
      when(denx === 0.0, lit(null))
        .otherwise((col("sy") - beta * col("sx")) / c).as("ln_k"),
      when(denx === 0.0 || deny === 0.0, lit(null))
        .otherwise(num * num / (denx * deny)).as("r2"))
  }

  /** [[vocabulary]]'s sketch-based scale path: corpus-wide heavy-hitter
    * tokens via the fixed-size mergeable Misra-Gries sketch
    * ([[graft.functions.SketchAggregates.frequentItems]]) — one map-side
    * pass + |partitions| sketch merges, NO token-keyed shuffle, state
    * bounded by `maxMapSize` counters regardless of the distinct-token
    * domain. No false negatives above the sketch's error bound; exact
    * (estimate = lower = upper = true count) when the domain fits the
    * map. Returns (token, estimate, lower, upper), estimate-desc. */
  def frequentTokens(docs: DataFrame, textCol: String = "text",
                     maxMapSize: Int = 1024): DataFrame =
    docs.select(explode(wsTokens(lower(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .agg(graft.functions.SketchAggregates
        .frequentItems(col("token"), maxMapSize).as("fi"))
      .select(explode(col("fi")).as("f"))
      .select(col("f.token").as("token"), col("f.estimate").as("estimate"),
        col("f.lower").as("lower"), col("f.upper").as("upper"))

  /** [[frequentTokens]] per group: one Misra-Gries sketch per `groupCol`
    * value (language, source, time bucket) — trending terms BY SEGMENT
    * with the same fixed-size mergeable state per group and no token-
    * keyed shuffle; only |groups| sketches move. */
  def frequentTokensByGroup(docs: DataFrame, groupCol: String,
                            textCol: String = "text",
                            maxMapSize: Int = 1024): DataFrame =
    docs.select(col(groupCol),
        explode(wsTokens(lower(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(groupCol)
      .agg(graft.functions.SketchAggregates
        .frequentItems(col("token"), maxMapSize).as("fi"))
      .select(col(groupCol), explode(col("fi")).as("f"))
      .select(col(groupCol), col("f.token").as("token"),
        col("f.estimate").as("estimate"))

  /** Sequence packing for training-batch construction: assign rows to
    * contiguous packs of at most `budgetTokens` whitespace tokens within
    * each partition group, walking rows in `orderCols` order — the
    * streaming first-fit packing every training pipeline uses to minimize
    * padding. `pack_id = floor(cum_tokens_before / budget)`: one window
    * cumsum per group, no shuffle beyond the group key, deterministic in
    * any engine. Rows longer than the budget still advance the cursor
    * (they occupy their own packs) rather than erroring — the trainer's
    * truncation policy is downstream's concern. When packs must FIT a
    * fixed context window exactly, use [[packSequencesGreedy]]. */
  def packSequences(docs: DataFrame, budgetTokens: Int,
                    partitionCols: Seq[String] = Nil,
                    orderCols: Seq[String] = Seq("doc_id"),
                    textCol: String = "text"): DataFrame = {
    require(budgetTokens > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val tokens = size(wsTokens(col(textCol)))
    docs
      .withColumn("n_tokens", tokens.cast("long"))
      .withColumn("_cum_before",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)))
      .withColumn("pack_id",
        floor(col("_cum_before") / lit(budgetTokens.toDouble)).cast("long"))
      .drop("_cum_before")
  }

  /** GPT-style token-stream BLOCK layout — the loader-side inverse of
    * [[packSequences]]: concatenate every document (plus one EOS token
    * each) into one token stream per shard, cut the stream into fixed
    * `blockTokens` blocks, and emit one row per (block, document
    * SEGMENT). [[packSequences]] answers "which pack does this doc
    * start in"; THIS answers what the data loader actually asks —
    * "block b: which (doc, offset, len) slices compose it" — with a
    * document that straddles block boundaries contributing one segment
    * per spanned block. EOS is charged to its document as a virtual
    * token at in-doc index `n_tokens` (a segment whose
    * doc_tok_start + seg_tokens reaches n_tokens + 1 includes it).
    * Stream order within a shard is [[trainingShards]]' salted
    * (shard_order, id) — the reproducible, resume-addressable order:
    * block k of shard s is the same slice of the same docs on any
    * engine, any partitioning, any run. Pass `orderCol` to override the
    * salted order with (orderCol, id) — the In-Context-Pretraining
    * layout (Shi et al. 2024: RELATED documents adjacent in the stream,
    * so one context window holds same-topic material): any grouping
    * column works — a k-means cluster id, [[graft.ops.Graph
    * .topoLevels]]' level for dependencies-first code ordering, a
    * registrable domain. Output: (shard, block_id,
    * block_pos, idCol, doc_tok_start, seg_tokens), all exact integer
    * arithmetic. The final block of a shard may run short — the
    * trainer pads or drops it downstream.
    *
    * Scale shape: one cumulative-sum window per shard whose input is
    * (id, order, n_tokens) ONLY — text never shuffles, parallelism =
    * shard count (the training-read knob, same as
    * [[packSequencesGreedy]]); then a map-side posexplode over each
    * doc's spanned block range. Output rows = n_docs +
    * total_tokens/blockTokens exactly (each straddle adds one row) —
    * linear, never pair-shaped. */
  def blockSegments(docs: DataFrame, blockTokens: Long, nShards: Int = 8,
                    seed: String = "", idCol: String = "doc_id",
                    textCol: String = "text",
                    orderCol: Option[String] = None): DataFrame = {
    require(blockTokens > 0, "blockTokens must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("_ord"), col(idCol))
    val b = lit(blockTokens)
    trainingShards(docs, idCol, nShards, seed)
      .select(col("shard"),
        orderCol.map(col).getOrElse(col("shard_order")).as("_ord"),
        col(idCol),
        (tokenCount(coalesce(col(textCol), lit(""))).cast("long") + 1L)
          .as("_len")) // + EOS
      .withColumn("_start",
        coalesce(sum(col("_len")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)))
      .select(col("shard"), col(idCol), col("_start"), col("_len"),
        posexplode(sequence(expr(s"_start div $blockTokens"),
          expr(s"(_start + _len - 1) div $blockTokens")))
          .as(Seq("_i", "block_id")))
      .select(col("shard"), col("block_id"),
        (greatest(col("_start"), col("block_id") * b) -
          col("block_id") * b).as("block_pos"),
        col(idCol),
        (greatest(col("_start"), col("block_id") * b) - col("_start"))
          .as("doc_tok_start"),
        (least(col("_start") + col("_len"), (col("block_id") + 1L) * b) -
          greatest(col("_start"), col("block_id") * b)).as("seg_tokens"))
  }

  /** BM25 full-text retrieval: score every document against a bag of query
    * terms (Okapi BM25, k1/b defaults) and return the top `k`.
    *
    * score(d) = Σ_t ln(1 + (N − df_t + 0.5)/(df_t + 0.5)) ·
    *            tf_td·(k1+1) / (tf_td + k1·(1 − b + b·dl_d/avgdl))
    *
    * Plan shape at 100 TB: the corpus token explode is filtered to the
    * query-term literal IN-list BEFORE any shuffle, so the only (doc, term)
    * rows that move are actual hits; document length rides the explode (no
    * corpus-wide length join); df is |queryTerms| rows and the (N, avgdl)
    * stats are one row — both broadcast. The final top-k is a
    * TakeOrderedAndProject over hit docs only. Ranking uses the ROUNDED
    * score (6 dp) so the k-boundary is stable across engines. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String],
               idCol: String = "doc_id", textCol: String = "text",
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKRuns(docs, Seq(queryTerms), idCol, textCol, k, k1, b).head

  /** [[bm25TopK]] for SEVERAL query-term bags over the SAME corpus in
    * one lineage — the multi-run retrieval shape [[rrfFuse]] consumes
    * (q146). The corpus is tokenized and the hit-term tf table built
    * ONCE over the union of the term sets; df_t comes from a window
    * count partitioned by term on that same tf frame (a separate
    * `tf.groupBy(term)` frame re-materializes the whole tokenize
    * lineage: its consumer prunes different columns, so the canonical
    * plans differ and AQE stage reuse never fires — measured as FOUR
    * corpus scans for two runs). Run membership is DATA — a broadcast
    * (run, term) table — not per-run plan branches: a literal
    * isin(terms_i) filter would push below the df window (term is its
    * partition key) and split the shared lineage right back apart.
    * Per-run scores are bit-identical to independent [[bm25TopK]]
    * calls: tf rows joined to a run's terms are exactly that run's tf
    * table, and df_t is a per-term count independent of which run
    * reads it. */
  def bm25TopKRuns(docs: DataFrame, termSets: Seq[Seq[String]],
                   idCol: String = "doc_id", textCol: String = "text",
                   k: Int = 10, k1: Double = 1.2,
                   b: Double = 0.75): Seq[DataFrame] = {
    require(termSets.nonEmpty && termSets.forall(_.nonEmpty),
      "every run needs at least one query term")
    val perRun = termSets.map(_.map(_.toLowerCase).distinct)
    val allTerms = perRun.flatten.distinct
    val toks = filter(wsTokens(lower(col(textCol))), t => length(t) > 0)
    val present = docs.filter(col(textCol).isNotNull)
    val stats = present
      .select(size(toks).as("dl"))
      .agg(count(lit(1)).cast("double").as("n_docs"),
        avg(col("dl").cast("double")).as("avgdl"))
    val tf = present
      .select(col(idCol), size(toks).cast("double").as("dl"),
        explode(toks).as("term"))
      .filter(col("term").isin(allTerms: _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val withDf = tf.withColumn("df",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy("term")).cast("double"))
    val restricted =
      if (perRun.size == 1) withDf // isin(allTerms) IS the run filter
      else {
        val spark = docs.sparkSession
        import spark.implicits._
        val runTerms = perRun.zipWithIndex
          .flatMap { case (ts, i) => ts.map(t => (i, t)) }
          .toDF("_run", "term")
        withDf.join(broadcast(runTerms), "term")
      }
    val contrib = restricted
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) +
          (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w", col("idf") * col("tf") * (k1 + 1) /
        (col("tf") +
          lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl"))))
    perRun.indices.map { i =>
      val run = if (perRun.size == 1) contrib
        else contrib.filter(col("_run") === i)
      run.groupBy(idCol)
        .agg(round(sum("w"), 6).as("score"), count(lit(1)).as("n_terms"))
        .orderBy(col("score").desc, col(idCol))
        .limit(k)
    }
  }

  /** Deterministic weighted sampling without replacement (Efraimidis-
    * Spirakis A-ES): each row draws a reproducible uniform u ∈ (0,1] from
    * the portable md5 hash of its id and takes key u^(1/w); the k largest
    * keys ARE a weighted sample without replacement. Higher `weightCol`
    * (must be > 0) → proportionally higher inclusion odds — the standard
    * quality-weighted corpus subsampling, reproducible in any engine with
    * md5/pow and mapped straight onto a bounded TakeOrdered: no shuffle
    * beyond k rows per partition. */
  def weightedSample(docs: DataFrame, weightCol: Column, k: Int,
                     idCol: String = "doc_id"): DataFrame = {
    require(k > 0)
    val u = (hashBucket(col(idCol), 1000000) + 1).cast("double") / 1000000.0
    docs
      // ln(u)/w orders identically to u^(1/w) (monotone transform) but is
      // robust to the JVM-vs-libm last-ulp difference WITHOUT rounding:
      // adjacent grid keys are ≥ ~1e-6/(u·w) apart while the ulp noise is
      // ~1e-16·|ln u|/w — nine orders smaller at any weight. (Rounding the
      // power-domain key would instead TIE large-weight keys, where
      // u^(1/w) compresses toward 1.0, and bias the sample toward small
      // ids.)
      .withColumn("_skey", log(u) / weightCol)
      .orderBy(col("_skey").desc, col(idCol))
      .limit(k)
      .drop("_skey")
  }

  /** [[weightedSample]] PER GROUP — the stratified form (k best-weighted
    * docs per source/language/shard, the per-stratum subsample a mixture
    * rebalance actually takes): the same deterministic A-ES key, ranked
    * inside each `groupCol` partition instead of globally. One
    * `row_number` window hash-partitioned on the group — Spark plans the
    * `rk <= k` filter as a Partial+Final `WindowGroupLimit`, so every
    * input partition pre-caps to its local top-k before the exchange
    * (the per-domain-cap plan shape, PlanSpec-gated there). */
  def weightedSamplePerGroup(docs: DataFrame, weightCol: Column, k: Int,
                             groupCol: String = "source",
                             idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0)
    val u = (hashBucket(col(idCol), 1000000) + 1).cast("double") / 1000000.0
    val w = Window.partitionBy(groupCol)
      .orderBy(col("_skey").desc, col(idCol))
    docs
      .withColumn("_skey", log(u) / weightCol) // see weightedSample's note
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .drop("_skey", "_rk")
  }

  /** Within-document token co-occurrence with PMI scoring: for every
    * unordered pair of DISTINCT tokens sharing a document,
    * pmi = ln(n_ab·N / (n_a·n_b)) over document frequencies — the classic
    * collocation / word-association statistic. Returns pairs with
    * n_ab ≥ `minPairCount`, top `k` by (pmi, pair), pmi rounded.
    *
    * Scale levers: pair generation is a per-document self-join, quadratic
    * in per-doc DISTINCT tokens — `maxVocab` restricts tokens to the
    * corpus's top-V vocabulary FIRST (broadcast semi-join, map-side), so
    * the pair domain is ≤ V² and per-doc fan-out is capped by how many of
    * the V terms one document can contain. Document frequencies (|V| rows)
    * broadcast back onto the pair aggregate. */
  def pmiPairs(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", minPairCount: Long = 5,
               k: Int = 50, maxVocab: Int = 10000): DataFrame = {
    val dt = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(array_distinct(
          filter(wsTokens(lower(col(textCol))), t => length(t) > 0)))
          .as("token"))
    val vocab = dt.groupBy("token").agg(count(lit(1)).as("n_t"))
      .orderBy(col("n_t").desc, col("token")).limit(maxVocab)
    val dv = dt.join(broadcast(vocab.select("token")), Seq("token"),
      "left_semi")
    val n = docs.filter(col(textCol).isNotNull)
      .agg(count(lit(1)).cast("double").as("n_docs"))
    // ordered within-doc pair expansion over one grouped aggregation
    // (the dedup pair-generator shape): the former dv⋈dv self-join
    // consumed the tokenize lineage twice (per-branch optimization
    // specializes the subtrees — nothing reuses) and shuffled it onto
    // id two ways. Tokens per doc are distinct (array_distinct above)
    // and array_sort is UTF8 order = the old t_a < t_b comparison, so
    // the pair multiset is identical.
    val pairs = dv.groupBy("id")
      .agg(collect_list(col("token")).as("ms"))
      .filter(size(col("ms")) >= 2)
      .select(array_sort(col("ms")).as("ms"))
      .select(col("ms").as("_ms"), posexplode(col("ms"))
        .as(Seq("_i", "t_a")))
      .select(col("t_a"), explode(slice(col("_ms"), col("_i") + 2,
        size(col("_ms")) - col("_i") - 1)).as("t_b"))
      .groupBy("t_a", "t_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
    pairs
      .join(broadcast(vocab.select(col("token").as("t_a"),
        col("n_t").as("n_a"))), Seq("t_a"))
      .join(broadcast(vocab.select(col("token").as("t_b"),
        col("n_t").as("n_b"))), Seq("t_b"))
      .crossJoin(broadcast(n))
      .select(col("t_a"), col("t_b"), col("n_ab"),
        round(log(col("n_ab").cast("double") * col("n_docs") /
          (col("n_a").cast("double") * col("n_b").cast("double"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("t_a"), col("t_b"))
      .limit(k)
  }

  /** Adaptive quality gate: keep documents whose [[qualityScore]] clears
    * their group's `pct` exact quantile — per-source thresholds instead of
    * one global cutoff, so a high-quality source isn't decimated by a
    * corpus-wide bar and a low-quality source doesn't flood through it.
    *
    * Two passes: one per-group exact-percentile aggregation (|groups| rows
    * out — broadcast back), then a map-side filter of the corpus against
    * its group threshold. At 100 TB swap the exact percentile for
    * [[graft.ops.Stats.approxQuantiles]]; the gate shape is unchanged. */
  def adaptiveQualityGate(docs: DataFrame, groupCol: String = "source",
                          pct: Double = 0.2, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    require(pct > 0 && pct < 1, s"pct must be in (0,1), got $pct")
    val scored = docs.withColumn("quality", qualityScore(col(textCol)))
    val thresholds = scored.groupBy(col(groupCol).as("g"))
      .agg(expr(s"percentile(quality, $pct)").as("thr"))
    scored.join(broadcast(thresholds), col(groupCol) === col("g"))
      .filter(col("quality") >= col("thr"))
      .drop("g")
  }

  /** Corpus-relative unigram negative log-likelihood per document — the
    * simplified KenLM-style fluency/typicality score: docs whose tokens
    * are globally rare score high (gibberish, boilerplate in another
    * register), average docs score near the corpus cross-entropy. MLE
    * unigram probabilities, no smoothing needed because every scored
    * token is by construction in the vocabulary.
    *
    * Shuffle ledger: one token-keyed count aggregation (map-side
    * combined), the 1-row total broadcast, one (token)-keyed join of
    * tokens to probabilities — broadcast when the vocabulary fits, hash
    * join on the distinct-token domain otherwise — then a doc-keyed avg.
    * Never a corpus self-join. The corpus IS scanned+exploded twice
    * (vocab-building pass, scoring pass) — deliberate: the two exchanges
    * are not canonically identical so ReuseExchange can't dedup them, and
    * caching a corpus-scale token explode is the wrong trade at 100 TB.
    * In steady state, persist the tiny `probs` table once and reuse it
    * across batches — then each scoring run is a single pass. */
  def unigramNll(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val tok = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(wsTokens(lower(col(textCol))))
        .as("token"))
      .filter(length(col("token")) > 0)
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum("c").cast("double").as("n_total"))
    val probs = vocab.crossJoin(broadcast(total))
      .select(col("token"), (col("c") / col("n_total")).as("p"))
    tok.join(probs, "token")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("p"))), 6).as("nll"))
  }

  /** Sequence-length configuration sweep — the table a pretraining/SFT
    * team reads to pick max_seq_len: for each candidate length L, what
    * one-doc-per-row batching at L would cost this corpus in truncation
    * (docs clipped, tokens lost) and padding (tokens wasted), plus the
    * utilization ratio Σ min(n, L) / (L·docs). All counts are exact
    * integers; utilization is ONE division per row. Truncation counts
    * whitespace tokens — the same unit as [[tokenCount]]/[[chunkTokens]].
    *
    * Scale shape: one map-side token count per doc, an |L|-way explode
    * of COUNT rows only (never text), one partial-agged groupBy on the
    * |lengths| domain. Output: one row per candidate length. */
  def seqLenSweep(docs: DataFrame, lengths: Seq[Int] = Seq(16, 32, 64, 128),
                  textCol: String = "text"): DataFrame = {
    require(lengths.nonEmpty && lengths.forall(_ > 0),
      "need at least one positive candidate length")
    docs.filter(col(textCol).isNotNull)
      .select(size(filter(wsTokens(lower(col(textCol))),
        w => length(w) > 0)).cast("long").as("nt"))
      .select(col("nt"),
        explode(typedlit(lengths.map(_.toLong))).as("seq_len"))
      .groupBy("seq_len")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nt") > col("seq_len"), 1L).otherwise(0L))
          .as("truncated_docs"),
        sum(greatest(col("nt") - col("seq_len"), lit(0L)))
          .as("truncated_tokens"),
        sum(greatest(col("seq_len") - col("nt"), lit(0L)))
          .as("padding_tokens"),
        sum(least(col("nt"), col("seq_len"))).as("kept_tokens"))
      .withColumn("utilization", col("kept_tokens").cast("double")
        / (col("seq_len") * col("n_docs")).cast("double"))
  }

  /** PREFIX-CACHE sharing analytics — the serving-side sizing table for
    * prompt (KV) caching: group prompts by their first `k` whitespace
    * tokens and report, per prefix group, how many prompts share it,
    * the shared prefix length, the group's total token volume, and the
    * prefill tokens a prefix cache saves — `(n_prompts − 1) ·
    * prefix_tokens` (the first request pays the prefill; every sibling
    * reuses it). Shared-system-prompt fleets show up as few giant
    * groups; fully ad-hoc traffic as all-singleton groups with zero
    * savings — exactly the distinction a cache-capacity plan needs.
    * Prompts shorter than `k` group by their full text (a shorter key
    * can never collide with a longer prompt's k-token key, so
    * `prefix_tokens = min(n_tokens, k)` is constant within a group).
    * The group key is emitted as a 32-char md5 digest, not the prefix
    * text.
    *
    * Exact integers throughout. Scale shape: one map-side tokenize +
    * digest projection, one digest-keyed grouped count — prompt text
    * never shuffles (the conversation-dedup posture); output is
    * |distinct prefixes| rows. */
  def prefixCacheStats(prompts: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", k: Int = 8): DataFrame = {
    require(k >= 1, "prefix length must be at least one token")
    val toks = filter(wsTokens(lower(col(textCol))), w => length(w) > 0)
    prompts.filter(col(textCol).isNotNull)
      .select(md5(concat_ws(" ", slice(toks, 1, k))).as("prefix_digest"),
        size(toks).cast("long").as("nt"))
      .groupBy("prefix_digest")
      .agg(count(lit(1)).as("n_prompts"),
        min(least(col("nt"), lit(k.toLong))).as("prefix_tokens"),
        sum(col("nt")).as("total_tokens"))
      .withColumn("saved_tokens",
        (col("n_prompts") - 1) * col("prefix_tokens"))
  }

  /** Sliding-window NLL outlier LOCALIZATION — [[unigramNll]]'s surgical
    * sibling: instead of scoring the whole document (drop/keep), find
    * WHERE the atypical text sits — the max-NLL window of `window`
    * consecutive tokens per document, the span a cleaning pass would cut
    * (boilerplate islands, encoding damage, injected spam) while keeping
    * the healthy remainder. Corpus-MLE unigram model, leave-in scoring
    * (every token's count ≥ 1, so P > 0).
    *
    * Numerics: each token's −ln p snaps to the 2⁻²⁰ dyadic grid (the
    * [[heapsLawFit]] ln-ULP guard), which buys more than portability of
    * the ln itself — SUMS of dyadic grid values are exact in double, so
    * the windowed sums are order-independent and bit-identical across
    * engines with NO sequential-fold machinery, and the per-doc argmax
    * (max span_nll, ties to the earliest start) is fully deterministic.
    *
    * Scale shape: one token-domain count agg (the unigramNll ledger), a
    * token-keyed join back, ONE per-doc position window (full windows
    * only — docs under `window` tokens drop out, documented), one
    * per-doc max_by. Output: (id, n_tokens, start, end, span_nll),
    * positions 0-based inclusive. */
  def nllSpans(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", window: Int = 16): DataFrame = {
    require(window >= 2, "window must be at least 2")
    val W = org.apache.spark.sql.expressions.Window
    val tok = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        posexplode(filter(wsTokens(lower(col(textCol))),
          w => length(w) > 0)).as(Seq("pos", "token")))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum("c").as("n_total"))
    val scored = tok.join(vocab, "token").crossJoin(broadcast(total))
      .withColumn("nll",
        floor(log(col("n_total").cast("double") / col("c").cast("double"))
          * 1048576.0 + 0.5) / 1048576.0)
    val spans = scored
      .withColumn("span_nll", sum("nll").over(
        W.partitionBy("id").orderBy("pos")
          .rowsBetween(-(window - 1), W.currentRow)))
      .filter(col("pos") >= window - 1)
    spans.groupBy(col("id").as(idCol))
      .agg((max("pos") + 1).cast("long").as("n_tokens"),
        max(struct(col("span_nll"),
          (-(col("pos") - (window - 1))).as("negs"))).as("b"))
      .select(col(idCol), col("n_tokens"),
        (-col("b.negs")).cast("long").as("start"),
        (-col("b.negs") + (window - 1)).cast("long").as("end"),
        col("b.span_nll").as("span_nll"))
  }

  /** Corpus-relative bigram NLL: mean −ln P(w_i | w_{i−1}) per document
    * under the corpus MLE bigram model (P = c(w1 w2) / c(w1 ·), contexts
    * counted over bigram starts so probabilities sum to 1 exactly).
    * The fluency upgrade over [[unigramNll]] — word-salad that passes a
    * unigram filter scores high here because its TRANSITIONS are rare.
    * Leave-in scoring (every doc's bigrams are in the corpus), so P > 0
    * by construction. Docs with < 2 tokens have no transitions and drop
    * out. Cost: one (doc, bigram) explode + two token-domain
    * aggregations joined back — the same shuffle ledger as unigramNll
    * with bigram keys. */
  def bigramNll(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        filter(wsTokens(lower(col(textCol))),
          t => length(t) > 0).as("toks"))
      .filter(size(col("toks")) > 1)
    val bg = toks.select(col(idCol),
        explode(expr("transform(sequence(1, size(toks) - 1), " +
          "i -> struct(concat(toks[i - 1], ' ', toks[i]) AS bigram, " +
          "toks[i - 1] AS w1))")).as("b"))
      .select(col(idCol), col("b.bigram").as("bigram"), col("b.w1").as("w1"))
    // MEASURED AND REVERTED (r18): the type-domain scoring that won for
    // interpolatedNll/kneserNeyNll (more model joins to fold) measured
    // q109 1.05 -> 1.44 s at sf0.1 here — with only TWO model tables,
    // both already broadcast by AQE, the added type-table rollup agg
    // costs more than the folded join saves at bench scale.
    val cbg = bg.groupBy("bigram").agg(count(lit(1)).as("c_bg"))
    val cw = bg.groupBy("w1").agg(count(lit(1)).as("c_w1"))
    bg.join(cbg, "bigram").join(cw, "w1")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        avg(-log(col("c_bg").cast("double") / col("c_w1"))).as("nll"))
  }

  /** Jelinek-Mercer INTERPOLATED bigram/unigram NLL: mean
    * −ln(λ·P(w₂|w₁) + (1−λ)·P(w₂)) per document — the smoothing that
    * makes an n-gram quality filter robust where pure-bigram NLL
    * ([[bigramNll]]) over-penalizes rare-but-fluent transitions (the
    * unigram floor keeps every mixed probability well away from the
    * model's sparse tail). Same shuffle ledger as bigramNll plus one
    * token-domain unigram join; the mix is one fixed-shape expression
    * (λ·q + (1−λ)·p) so the doubles replay engine-for-engine. */
  def interpolatedNll(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      lambda: Double = 0.5): DataFrame = {
    require(lambda > 0 && lambda < 1, "lambda must be in (0,1)")
    val tok = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(
        filter(wsTokens(lower(col(textCol))), t => length(t) > 0))
        .as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum("c").cast("double").as("n_total"))
    val uni = vocab.crossJoin(broadcast(total))
      .select(col("token").as("w2"), (col("c") / col("n_total")).as("p_uni"))
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        filter(wsTokens(lower(col(textCol))), t => length(t) > 0).as("toks"))
      .filter(size(col("toks")) > 1)
    val bg = toks.select(col(idCol),
        explode(expr("transform(sequence(1, size(toks) - 1), " +
          "i -> struct(concat(toks[i - 1], ' ', toks[i]) AS bigram, " +
          "toks[i - 1] AS w1, toks[i] AS w2))")).as("b"))
      .select(col(idCol), col("b.bigram").as("bigram"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    // type-domain scoring (the bigramNll restructure): c(w1·) rolls up
    // from the type table, the unigram backoff joins on the TYPE's w2,
    // and the instance table joins the scored types once on bigram
    // instead of shuffling onto bigram, w1 AND w2 — per-transition
    // doubles bit-identical (same counts, same fixed-shape mix)
    val types = bg.groupBy("bigram", "w1", "w2")
      .agg(count(lit(1)).as("c_bg"))
    val cw = types.groupBy("w1").agg(sum("c_bg").as("c_w1"))
    val mix = lit(lambda) * (col("c_bg").cast("double") / col("c_w1")) +
      lit(1.0 - lambda) * col("p_uni")
    val scored = types.join(cw, "w1").join(uni, "w2")
      .select(col("bigram"), (-log(mix)).as("t_nll"))
    bg.select(col(idCol), col("bigram")).join(scored, "bigram")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_transitions"),
        round(avg(col("t_nll")), 6).as("nll"))
  }

  /** INTERPOLATED KNESER-NEY bigram NLL — the smoothing KenLM actually
    * ships (CCNet-style perplexity filtering scores documents under a
    * KN-smoothed n-gram LM; this is the bigram form). Upgrades
    * [[interpolatedNll]]'s Jelinek-Mercer mix in the way Kneser-Ney is
    * known for: the backoff distribution is the CONTINUATION probability
    * P_cont(w₂) = |{w₁ : c(w₁,w₂)>0}| / |bigram types| — "how many
    * contexts has w₂ completed" — not the raw unigram frequency, so
    * high-count-but-context-bound tokens (the "Francisco" problem) stop
    * inflating the backoff. Per transition,
    *   P(w₂|w₁) = (c(w₁,w₂) − d)/c(w₁·)
    *            + (d · N1+(w₁,·)/c(w₁·)) · P_cont(w₂)
    * with absolute discount d (default 0.75 — dyadic, exact in
    * binary). Leave-in scoring (every scored bigram is in the corpus ⇒
    * c ≥ 1 > d ⇒ the discounted term stays positive; no max() clamp
    * needed, kept anyway for callers who score held-out text against a
    * pre-counted corpus). The model is properly normalized: summing
    * over the full vocabulary, Σ P(w₂|w₁) = 1 for every context
    * (ExtensionsSpec asserts it).
    *
    * Shuffle ledger: one (doc, bigram) explode; three aggregations on
    * the bigram-type / token domains (c(w₁,w₂); c(w₁·)+N1+(w₁,·) in one
    * pass; N1+(·,w₂) from the TYPE table, not the instance table); the
    * |types| scalar rides a broadcast 1-row frame. Joins are keyed on
    * those domains — same ledger class as [[interpolatedNll]], one
    * extra type-domain agg. The probability is one fixed-shape double
    * expression and rounds at the edge, so it replays engine-for-engine. */
  def kneserNeyNll(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, "discount must be in (0,1)")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        filter(wsTokens(lower(col(textCol))), t => length(t) > 0).as("toks"))
      .filter(size(col("toks")) > 1)
    val bg = toks.select(col(idCol),
        explode(expr("transform(sequence(1, size(toks) - 1), " +
          "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))")).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cbg = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_bg"))
    // c(w1 ·) and N1+(w1,·) from the TYPE table instead of a second
    // pass over the instance lineage: sum of type counts / type count
    // per head — exact integers, same values
    val cw = cbg.groupBy("w1").agg(sum("c_bg").as("c_w1"),
      count(lit(1)).as("n1_fwd"))
    // N1+(·,w2): distinct contexts per continuation — rows of the TYPE
    // table, so this agg runs on |bigram types|, not bigram instances
    val cont = cbg.groupBy("w2").agg(count(lit(1)).as("n1_bwd"))
    val nTypes = cbg.agg(count(lit(1)).cast("double").as("n_types"))
    val d = lit(discount)
    val p = greatest(col("c_bg").cast("double") - d, lit(0.0)) /
      col("c_w1") +
      d * col("n1_fwd").cast("double") / col("c_w1") *
        (col("n1_bwd").cast("double") / col("n_types"))
    // type-domain scoring (the bigramNll restructure): every join here
    // runs on the TYPE table; the instance table joins the scored types
    // once on (w1, w2) instead of shuffling onto (w1,w2), w1 AND w2
    val scored = cbg.join(cw, "w1").join(cont, "w2")
      .crossJoin(broadcast(nTypes))
      .select(col("w1"), col("w2"), (-log(p)).as("t_nll"))
    bg.join(scored, Seq("w1", "w2"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_transitions"),
        round(avg(col("t_nll")), 6).as("nll"))
  }

  /** CLASSIFIER THRESHOLD SWEEP — the calibration step between training
    * a quality classifier ([[scoreLinearModel]]/[[naiveBayesTrain]]) and
    * deploying its cutoff (the FineWeb-Edu "pick the score floor" step):
    * confusion counts + precision/recall at each candidate threshold
    * against a reference label. The threshold list rides a broadcast
    * |T|-row frame; counts are exact integers map-side combined, the
    * two quotients are taken once per threshold (null when undefined).
    * One pass over the scored corpus regardless of |T|. Rows whose score
    * or label is null cannot land in any confusion cell — they are
    * counted in `n_null` instead of silently vanishing, so
    * tp+fp+fn+tn+n_null always equals the scored row count and the
    * calibration totals stay auditable. */
  def thresholdSweep(scored: DataFrame, thresholds: Seq[Double],
                     labelCol: String = "label",
                     scoreCol: String = "logit"): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val s2 = scored.sparkSession
    import s2.implicits._
    val th = thresholds.toDF("threshold")
    val nul = col("s").isNull || col("y").isNull
    val pos = !nul && col("s") >= col("threshold")
    val y = col("y") === 1L
    scored.select(col(scoreCol).as("s"), col(labelCol).cast("long").as("y"))
      .crossJoin(broadcast(th))
      .groupBy("threshold")
      .agg(sum(when(pos && y, 1L).otherwise(0L)).as("tp"),
        sum(when(pos && !y, 1L).otherwise(0L)).as("fp"),
        sum(when(!nul && !pos && y, 1L).otherwise(0L)).as("fn"),
        sum(when(!nul && !pos && !y, 1L).otherwise(0L)).as("tn"),
        sum(when(nul, 1L).otherwise(0L)).as("n_null"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        col("n_null"),
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp")))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn")))
          .as("recall"))
  }

  /** CALIBRATION REPORT — the reliability-diagram companion of
    * [[thresholdSweep]] (sweep picks the cutoff; this checks whether
    * the probabilities MEAN anything): bin predicted probabilities into
    * `nBins` equal-width bins over [0,1] and report, per non-empty bin,
    * the count, mean predicted probability (confidence), empirical
    * accuracy, and |acc − conf| gap. ECE is the caller's
    * Σ (n_b/N)·gap_b over these rows. Accuracy is an exact-integer
    * quotient (portable unrounded); confidence and gap round to 6 dp at
    * the edge (float-sum order). Null prob/label rows are counted in a
    * bin = −1 audit row, the [[thresholdSweep]] n_null convention. One
    * map-side-combined aggregation — |bins| rows leave. */
  def calibrationBins(scored: DataFrame, nBins: Int = 10,
                      probCol: String = "prob",
                      labelCol: String = "label"): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    val p = col(probCol)
    val y = col(labelCol).cast("long")
    val bin = when(p.isNull || y.isNull, lit(-1L))
      .otherwise(least(floor(p * nBins).cast("long"), lit(nBins - 1L)))
    scored.select(bin.as("bin"), p.as("p"), y.as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(avg(col("p")), 6).as("confidence"),
        (sum(when(col("y") === 1L, 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("accuracy"))
      .select(col("bin"), col("n"), col("confidence"), col("accuracy"),
        when(col("bin") >= 0,
          round(abs(col("accuracy") - col("confidence")), 6)).as("gap"))
  }

  /** LEAVE-ONE-OUT source attribution — the data-valuation step of
    * mixture design ([[domainReweight]] asks "what should the weights
    * be"; this asks "what is each source WORTH"): for every source s,
    * the add-one-smoothed unigram NLL of a fixed eval set under the
    * corpus-minus-s model, minus the full-corpus baseline. delta > 0
    * means removing s hurts eval modeling (s is valuable for that
    * eval); delta < 0 means s actively pulls the token distribution
    * away from it — the cheap exact stand-in for influence-function /
    * datamodel scores at corpus scale. The smoothing vocabulary V is
    * the FULL train vocab for every variant, so deltas are comparable
    * across sources.
    *
    * Numerics: each −ln p snaps to the 2⁻²⁰ dyadic grid (the
    * [[heapsLawFit]] ln-ULP guard), then weighted by integer eval
    * counts — sums of dyadic multiples are EXACT and order-independent
    * (bound: ~2⁵³/2²⁴ ≈ 2²⁸ eval tokens, far past any benchmark suite).
    *
    * Scale shape: the train corpus reduces to its (source, token) type
    * table in one explode+agg (the DoReMi ledger); eval reduces to its
    * token-type counts (benchmark-sized by construction — the
    * decontamination convention). The LOO grid is |eval types| ×
    * |sources| rows — every source shifts every token's denominator via
    * N − N_s, so the cross is irreducible and BOUNDED; train text never
    * re-enters. One broadcast of the 1-row (N, V) totals. */
  def looAttribution(train: DataFrame, evalDocs: DataFrame,
                     groupCol: String = "source",
                     textCol: String = "text"): DataFrame = {
    def toks(df: DataFrame, extra: Column*): DataFrame = df
      .filter(col(textCol).isNotNull)
      .select((extra :+ explode(filter(wsTokens(lower(col(textCol))),
        w => length(w) > 0)).as("t")): _*)
    def snapNegLn(c: Column): Column =
      -(floor(log(c) * 1048576.0 + 0.5) / 1048576.0)
    val st = toks(train.filter(col(groupCol).isNotNull), col(groupCol).as("g"))
      .groupBy("g", "t").agg(count(lit(1)).as("c_st"))
    val ct = st.groupBy("t").agg(sum("c_st").as("c_t"))
    val ns = st.groupBy("g").agg(sum("c_st").as("n_s"))
    val tot = ct.agg(sum("c_t").as("n_tot"), count(lit(1)).as("v"))
    val eTok = toks(evalDocs).groupBy("t").agg(count(lit(1)).as("e_cnt"))
    val base = eTok.join(ct, Seq("t"), "left")
      .select(col("t"), col("e_cnt"), coalesce(col("c_t"), lit(0L)).as("c_t"))
    val baseNll = base.crossJoin(broadcast(tot))
      .select((col("e_cnt") * snapNegLn((col("c_t") + 1).cast("double")
        / (col("n_tot") + col("v")).cast("double"))).as("term"))
      .agg(sum("term").as("base_nll"))
    base.crossJoin(broadcast(ns))
      .join(st, Seq("g", "t"), "left")
      .crossJoin(broadcast(tot))
      .select(col("g"), col("n_s"),
        (col("e_cnt") * snapNegLn(
          (col("c_t") - coalesce(col("c_st"), lit(0L)) + 1).cast("double")
            / (col("n_tot") - col("n_s") + col("v")).cast("double")))
          .as("term"))
      .groupBy("g", "n_s").agg(sum("term").as("loo_nll"))
      .crossJoin(broadcast(baseNll))
      .select(col("g").as(groupCol), col("n_s"), col("base_nll"),
        col("loo_nll"), (col("loo_nll") - col("base_nll")).as("delta"))
  }

  /** ISOTONIC (PAV) CALIBRATION — the FIT that [[calibrationBins]]'s
    * diagnosis calls for: learn the monotone map from predicted
    * probability to empirical accuracy (the standard recalibration for
    * reward models and quality classifiers whose scores rank well but
    * read wrong as probabilities). Computed via the exact minimax
    * characterization of isotonic regression — calibrated(k) =
    * max_{i≤k} min_{j≥k} mean(pos_i..j / w_i..j) — which equals the
    * pool-adjacent-violators fit WITHOUT a sequential driver loop:
    * every segment mean is (one IEEE division over) exact-integer
    * prefix-sum differences, so the whole fit is bit-portable and
    * order-independent. Returns one row per non-empty bin: (bin, n,
    * pos, raw, calibrated), calibrated non-decreasing by construction;
    * rows with a NULL prob or label are excluded (nothing to fit).
    *
    * Scale shape: ONE map-side-combined corpus aggregation reduces
    * everything to ≤ nBins rows; the prefix window, the (i,j) segment
    * table (≤ nBins²/2 rows) and the (k,i,j) minimax join (≤ nBins³
    * rows — 8000 at the default 20) all live on that constant-bounded
    * table, deliberately single-partition (the rrfFuse convention).
    * The corpus is read once. */
  def isotonicCalibration(scored: DataFrame, nBins: Int = 20,
                          probCol: String = "prob",
                          labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBins >= 2 && nBins <= 128,
      "nBins outside the bounded-minimax range")
    val p = col(probCol)
    val y = col(labelCol).cast("long")
    val bins = scored.filter(p.isNotNull && y.isNotNull)
      .select(least(floor(p * nBins).cast("long"), lit(nBins - 1L))
        .as("bin"), y.as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("pos"))
    // ≤ nBins rows from here on: the no-partition window is bounded
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = bins.withColumn("cw", sum("n").over(w))
      .withColumn("cp", sum("pos").over(w))
    val segs = pre.select(col("bin").as("i"), col("n").as("wi"),
        col("pos").as("pi"), col("cw").as("cwi"), col("cp").as("cpi"))
      .join(pre.select(col("bin").as("j"), col("cw").as("cwj"),
        col("cp").as("cpj")), col("i") <= col("j"))
      .select(col("i"), col("j"),
        ((col("cpj") - col("cpi") + col("pi")).cast("double") /
          (col("cwj") - col("cwi") + col("wi")).cast("double")).as("pavg"))
    val fit = pre.select(col("bin").as("k"))
      .join(segs, col("i") <= col("k") && col("k") <= col("j"))
      .groupBy("k", "i").agg(min("pavg").as("_minp"))
      .groupBy("k").agg(max("_minp").as("calibrated"))
    bins.join(fit, bins("bin") === fit("k"))
      .select(col("bin"), col("n"), col("pos"),
        (col("pos").cast("double") / col("n").cast("double")).as("raw"),
        col("calibrated"))
  }

  /** MULTI-EPOCH SHUFFLE ORDER — the training dataloader's per-epoch
    * permutation as a relational op: epoch e ranks documents by
    * md5(e, id), a DIFFERENT deterministic order each epoch with zero
    * stored state (the [[trainingShards]] principle extended across
    * epochs — resumable from any (epoch, rank) checkpoint by
    * recomputation, no shuffle files to persist). Emits the first
    * `topK` of each epoch: (epoch, rank, id). The per-epoch rank
    * window is WindowGroupLimit-pruned map-side, so the full
    * permutation is never materialized for a bounded read. */
  def epochShuffleOrder(docs: DataFrame, epochs: Int = 3,
                        topK: Int = 10,
                        idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(epochs > 0 && topK > 0, "epochs and topK must be positive")
    val w = Window.partitionBy("epoch").orderBy(
      md5(concat(col("epoch").cast("string"), lit("_"),
        col(idCol).cast("string"))), col(idCol))
    docs.select(col(idCol),
        explode(sequence(lit(0), lit(epochs - 1))).as("epoch"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("epoch"), col("rank"), col(idCol))
  }

  /** CODE-VS-PROSE DETECTION — the router every mixed crawl needs
    * before its text rules run (Gopher/C4 thresholds tuned for prose
    * MANGLE code, and code wants its own pipeline): per doc, the
    * interpretable signals — brace/semicolon density per char,
    * indented-line fraction, programming-keyword token hits — and a
    * composite `is_code` verdict at explicit documented thresholds
    * (density > 0.01, or indent ≥ 0.3 with ≥ 2 keyword hits). Pure
    * column HOF/regex work in the scan, map-only. */
  def codeSignals(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val lines = split(t, "\n")
    val nLines = size(lines).cast("long")
    val indented = size(filter(lines, l => l.rlike("^(\\t|  )")))
      .cast("long")
    val braceSemi =
      (length(t) - length(regexp_replace(t, "[{};]", ""))).cast("long")
    // parenthesized keywords match as PREFIXES: real code tokenizes as
    // "if(x)" / "for(int" — an exact-token check would never hit them
    val exactKw = CodeKeywords.filterNot(_.endsWith("("))
    val prefixKw = CodeKeywords.filter(_.endsWith("("))
    val kw = size(filter(wsTokens(t), w =>
      prefixKw.map(p => w.startsWith(p))
        .foldLeft(w.isin(exactKw: _*))(_ || _))).cast("long")
    val density = when(length(t) > 0,
      braceSemi.cast("double") / length(t)).otherwise(lit(0.0))
    val indentFrac = when(nLines > 0,
      indented.cast("double") / nLines).otherwise(lit(0.0))
    docs.select(col(idCol), nLines.as("n_lines"),
      braceSemi.as("n_brace_semi"), kw.as("kw_hits"),
      density.as("brace_semi_density"),
      indentFrac.as("indent_fraction"),
      (density > 0.01 || (indentFrac >= 0.3 && kw >= 2))
        .cast("long").as("is_code"))
  }

  /** CODE-FILE QUALITY BATTERY (The Stack / StarCoder filters,
    * Kocetkov et al. 2022, Li et al. 2023) — the rule set every code
    * corpus runs after [[codeSignals]] routes a file INTO the code
    * pipeline: per file the interpretable line-geometry and content
    * stats plus the standard pass verdict. Signals:
    *
    *  - `n_lines`, `max_line_len`, `avg_line_len` (newline-exclusive
    *    char count over lines — both factors exact integers, ONE
    *    division at the edge, the portable-quotient convention),
    *  - `alnum_frac` ([0-9A-Za-z] chars / chars — minified JS,
    *    hexdumps and encoded blobs all crater it),
    *  - `autogen` (a "generated by / auto-generated / autogenerated /
    *    do not edit" marker in the first `autogenScanLines` lines,
    *    case-insensitive — The Stack's header heuristic: generated
    *    lockfiles/protobufs teach a model nothing),
    *  - `pass` at the published thresholds: avg ≤ 100, max ≤ 1000,
    *    alnum_frac ≥ 0.25, no autogen marker.
    *
    * Pure column work (one split + two regexp_replace counts) in the
    * scan — map-only at any corpus size; thresholds are parameters so
    * a language profile can re-tune them. */
  def codeQualityRules(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text",
                       maxAvgLineLen: Double = 100.0,
                       maxMaxLineLen: Long = 1000L,
                       minAlnumFrac: Double = 0.25,
                       autogenScanLines: Int = 5): DataFrame = {
    require(autogenScanLines > 0, "autogenScanLines must be positive")
    val t = coalesce(col(textCol), lit(""))
    val lines = split(t, "\n")
    val nLines = size(lines).cast("long")
    // Σ line lengths = chars minus the (n_lines - 1) newlines
    val charsNoNl = (length(t) - (nLines - 1L)).cast("long")
    val maxLine = array_max(transform(lines, l => length(l)))
      .cast("long")
    val alnum =
      (length(t) - length(regexp_replace(t, "[0-9A-Za-z]", "")))
        .cast("long")
    val head = lower(array_join(
      slice(lines, 1, autogenScanLines), "\n"))
    val autogen = (head.contains("generated by") ||
      head.contains("auto-generated") ||
      head.contains("autogenerated") ||
      head.contains("do not edit")).cast("long")
    val avgLine = charsNoNl.cast("double") / nLines.cast("double")
    val alnumFrac = when(length(t) > 0,
      alnum.cast("double") / length(t).cast("double")).otherwise(0.0)
    docs.select(col(idCol), nLines.as("n_lines"),
      maxLine.as("max_line_len"), avgLine.as("avg_line_len"),
      alnumFrac.as("alnum_frac"), autogen.as("autogen"),
      (avgLine <= maxAvgLineLen && maxLine <= maxMaxLineLen &&
        alnumFrac >= minAlnumFrac && autogen === 0L)
        .cast("long").as("pass"))
  }

  /** [[codeSignals]]' keyword token set — language-spanning; entries
    * ending in `(` are matched as token PREFIXES (`if(x)`, `for(int`),
    * the rest as whole whitespace tokens so prose words never collide. */
  val CodeKeywords: Seq[String] = Seq("def", "class", "return", "import",
    "void", "function", "var", "const", "public", "static", "if(",
    "for(", "while(", "#include", "lambda", "=>")

  /** MARKDOWN STRUCTURE PROFILE — the router signal for the
    * README/docs/notebook stratum (code corpora are full of markdown,
    * and markdown-aware chunking beats treating it as flat prose):
    * per doc the structural counts — ATX headers (`^#{1,6} `), fenced
    * code blocks (``` pairs), inline links `[text](url)`, bullet lines
    * (`^[-*] `) — plus `is_markdown` at a documented composite
    * threshold (headers + 2·fences + links + bullets ≥ 3; one
    * structural element is prose noise, three is authored markup).
    * One split + per-line regex filters in the scan, map-only; every
    * pattern is RE2-safe (no lookaround, no backreferences) so the
    * DuckDB oracle runs the IDENTICAL regexes. */
  def markdownStats(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val lines = split(t, "\n")
    val headers = size(filter(lines, l => l.rlike("^#{1,6} ")))
      .cast("long")
    // Spark's `/` is always DOUBLE division — floor+cast makes the
    // fence-pair count the integer both engines agree on
    val fences = floor((size(split(t, "```", -1)) - 1) / 2)
      .cast("long")
    val links = size(regexp_extract_all(t,
      lit("\\[[^\\]]*\\]\\([^)]*\\)"), lit(0))).cast("long")
    val bullets = size(filter(lines, l => l.rlike("^[-*] ")))
      .cast("long")
    val score = headers + fences * 2L + links + bullets
    docs.select(col(idCol), headers.as("n_headers"),
      fences.as("n_fences"), links.as("n_links"),
      bullets.as("n_bullets"),
      (score >= 3L).cast("long").as("is_markdown"))
  }

  /** FENCED-CODE-BLOCK EXTRACTION — the companion rewrite surface of
    * [[markdownStats]]: every ``` block as (lang, body) structs, the
    * language tag from the opening fence line (empty when untagged).
    * The `(?s)`-dotall non-greedy pattern is RE2-safe; two
    * `regexp_extract_all` passes (group 1 = lang, group 2 = body)
    * zipped positionally. Map-only; callers `posexplode`. */
  def fencedBlocks(text: Column): Column = {
    val t = coalesce(text, lit(""))
    val pat = "(?s)```([A-Za-z0-9+#-]*)\\n(.*?)```"
    arrays_zip(
      regexp_extract_all(t, lit(pat), lit(1)).as("lang"),
      regexp_extract_all(t, lit(pat), lit(2)).as("body"))
  }

  /** HTML TABLE EXTRACTION — the structured-data half of
    * [[htmlExtract]]'s prose strip: every `<tr>`'s `<td>`/`<th>` cell
    * texts as a nested array (rows × cells), non-greedy RE2-safe
    * patterns, markup-free cells only (the same cheap-extractor
    * trade-off as [[extractAnchors]], documented). Map-only; callers
    * explode to (doc, row, cells). */
  def extractTables(html: Column): Column = {
    val h = coalesce(html, lit(""))
    val rows = regexp_extract_all(h, lit("(?is)<tr[^>]*>(.*?)</tr>"),
      lit(1))
    transform(rows, r => regexp_extract_all(r,
      lit("(?is)<t[dh][^>]*>([^<]*)</t[dh]>"), lit(1)))
  }

  /** The unique high-entropy marker string for canary `id` —
    * `CANARY-<id>-<16 md5 hex chars>`: long and random enough that a
    * model emitting it verbatim proves memorization, cheap enough to
    * scan for with a plain substring search. */
  def canaryText(id: Column): Column =
    concat(lit("CANARY-"), id, lit("-"),
      substring(md5(concat(lit("canary:"), id)), 1, 16))

  /** SECRET-SHARER CANARY INJECTION (Carlini et al. 2019): append
    * synthetic secrets to a deterministic slice of the corpus at
    * controlled frequencies, so a later scan of model GENERATIONS
    * ([[canaryScan]] + [[canaryExposure]]) calibrates how much
    * repetition makes training data extractable. `spec` maps each
    * canary id to its selection modulus: doc d carries canary c iff
    * md5-bucket(d:c) ≡ 0 (mod m) — expected corpus/m insertions, the
    * EXACT count measured by scanning the result (the manifest is the
    * measurement, never a promise). The spec is an operator constant
    * (dozens of canaries); the rewrite is one map-only projection
    * folding |spec| gated appends. */
  def injectCanaries(docs: DataFrame, spec: Seq[(String, Int)],
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(spec.nonEmpty && spec.forall(_._2 >= 1),
      "spec must be non-empty with positive moduli")
    val rewritten = spec.foldLeft(coalesce(col(textCol), lit(""))) {
      case (acc, (c, m)) =>
        when(hashBucket(concat(col(idCol).cast("string"),
            lit(":" + c)), m) === 0,
          concat(acc, lit(" "), canaryText(lit(c)))).otherwise(acc)
    }
    docs.select(col(idCol), rewritten.as(textCol))
  }

  /** Canary scan — run over the INJECTED corpus it is the manifest
    * (how many insertions actually landed), run over model GENERATIONS
    * it is the leak audit: per canary, the number of docs containing
    * its marker and the total occurrence count (exact: length delta
    * over a plain-string replace, divided by the marker length).
    * One pass: the |spec|-struct literal array explodes per doc
    * (transient, map-side — partial aggregation reduces each task to
    * |spec| rows before the exchange). */
  def canaryScan(docs: DataFrame, spec: Seq[(String, Int)],
                 textCol: String = "text"): DataFrame = {
    require(spec.nonEmpty, "spec must be non-empty")
    val entries = array(spec.map { case (c, _) =>
      struct(lit(c).as("canary_id"), canaryText(lit(c)).as("ctext"))
    }: _*)
    val t = coalesce(col(textCol), lit(""))
    docs.select(t.as("t"), explode(entries).as("c"))
      .select(col("c.canary_id").as("canary_id"),
        when(col("t").contains(col("c.ctext")), 1L).otherwise(0L)
          .as("hit"),
        ((length(col("t")) -
          length(expr("replace(t, c.ctext, '')"))) /
          length(col("c.ctext"))).cast("long").as("occ"))
      .groupBy("canary_id")
      .agg(sum("hit").as("n_docs"), sum("occ").as("n_occurrences"))
  }

  /** The extraction-risk readout: training-side manifest vs
    * generation-side audit, per canary — insertion count, leaked doc
    * count, the exact-quotient leak rate (gen docs per train
    * insertion), and the boolean a release gate acts on. Both sides
    * are |spec|-row frames (broadcast-trivial). */
  def canaryExposure(trainManifest: DataFrame,
                     genAudit: DataFrame): DataFrame =
    trainManifest.select(col("canary_id"),
        col("n_docs").as("n_train_docs"))
      .join(genAudit.select(col("canary_id"),
        col("n_docs").as("n_gen_docs"),
        col("n_occurrences").as("n_gen_occurrences")),
        Seq("canary_id"), "left")
      .select(col("canary_id"), col("n_train_docs"),
        coalesce(col("n_gen_docs"), lit(0L)).as("n_gen_docs"),
        coalesce(col("n_gen_occurrences"), lit(0L))
          .as("n_gen_occurrences"),
        when(col("n_train_docs") > 0L,
          coalesce(col("n_gen_docs"), lit(0L)).cast("double") /
            col("n_train_docs").cast("double")).otherwise(0.0)
          .as("leak_rate"),
        (coalesce(col("n_gen_docs"), lit(0L)) > 0L).cast("long")
          .as("leaked"))

  /** PII EXPOSURE AUDIT — the measuring complement of [[scrubPii]]'s
    * rewrite (a compliance release wants the COUNTS, per source, before
    * deciding to scrub or drop): per `groupCol`, match counts for each
    * rule plus the number of documents carrying any match. One map-only
    * scan (the rules run as `regexp_extract_all` sizes in the
    * projection), one map-side-combined aggregation; group-cardinality
    * rows out. Rule tags become column names (`<EMAIL>` → n_email). */
  def piiReport(docs: DataFrame, groupCol: String = "source",
                textCol: String = "text",
                rules: Seq[(String, String)] = DefaultPiiRules)
      : DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    val t = coalesce(col(textCol), lit(""))
    def cnt(pat: String): Column =
      size(regexp_extract_all(t, lit(pat), lit(0))).cast("long")
    def nameOf(tag: String): String =
      "n_" + tag.replaceAll("[<>]", "").toLowerCase
    val total = rules.map { case (p, _) => cnt(p) }.reduce(_ + _)
    val aggs = rules.map { case (p, tag) =>
      sum(cnt(p)).as(nameOf(tag)) } :+
      sum(when(total > 0, 1L).otherwise(0L)).as("n_docs_with_pii")
    docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), aggs: _*)
  }

  /** T5-STYLE SPAN CORRUPTION (Raffel et al. 2020 §3.1.4) — the
    * training-example generator for denoising objectives: mask ~1/`modM`
    * of each document's tokens (deterministically — the md5 bucket of
    * (doc, position), so the same corpus always yields the same
    * examples, the reproducibility property RNG-based maskers lose),
    * replace each masked token with a numbered `<extra_id_k>` sentinel
    * in the input, and emit the (sentinel, original token) pairs as the
    * target. Single-token spans by design (adjacent masked tokens keep
    * distinct sentinels — documented simplification of T5's span
    * merging). Returns (id, n_tokens, n_masked, input_text,
    * target_text).
    *
    * Scale: one token explode + one per-doc position window (the
    * running sentinel counter) + one grouped rebuild — all keyed by the
    * doc id, so the corpus shuffles once, as rebuilt rows. */
  def spanCorruption(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     modM: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(modM >= 2, "modM must be at least 2")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(
        filter(wsTokens(col(textCol)), t => length(t) > 0))
        .as(Seq("pos", "tok")))
      .withColumn("masked",
        hashBucket(concat(col(idCol).cast("string"), lit("_"),
          col("pos").cast("string")), modM) === 0)
    val w = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val numbered = toks.withColumn("k",
      sum(when(col("masked"), 1L).otherwise(0L)).over(w))
    val inputTok = when(col("masked"),
      concat(lit("<extra_id_"), (col("k") - 1).cast("string"), lit(">")))
      .otherwise(col("tok"))
    val targetTok = when(col("masked"),
      concat(lit("<extra_id_"), (col("k") - 1).cast("string"),
        lit("> "), col("tok")))
    numbered
      .select(col(idCol), col("pos"), col("masked"),
        inputTok.as("it"), targetTok.as("tt"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("it")))),
          s => s.getField("it")), " ").as("input_text"),
        array_join(transform(
          array_sort(collect_list(when(col("tt").isNotNull,
            struct(col("pos"), col("tt"))))),
          s => s.getField("tt")), " ").as("target_text"))
  }

  /** FILL-IN-THE-MIDDLE transform (Bavarian et al. 2022, "Efficient
    * Training of Language Models to Fill in the Middle") — the code-
    * corpus pretraining prep: for `ratePct`% of documents, cut the text
    * at two character positions into (prefix, middle, suffix) and
    * re-emit in PSM order `<|fim_prefix|>P<|fim_suffix|>S<|fim_middle|>M`
    * (the model learns to generate the middle given both sides; pass
    * `spm = true` for the suffix-first SPM variant the paper mixes in).
    * Untransformed documents pass through verbatim with fim = 0, so the
    * output is a drop-in replacement for the raw text column.
    *
    * Every choice is md5-derived from the document id ([[hashBucket]],
    * the [[spanCorruption]] idiom): the apply/skip gate is bucket
    * (id:fim) of 100 vs ratePct; the two cut points are buckets
    * (id:f1) / (id:f2) of len+1 — so the transform is a pure per-row
    * projection, reproducible on any engine, any run, any partitioning.
    * Cuts at 0 / len legally yield empty prefix/middle/suffix, exactly
    * as the paper's uniform splits do. Map-only: nothing shuffles at
    * any corpus size. */
  def fimTransform(docs: DataFrame, ratePct: Int = 50,
                   spm: Boolean = false, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      fimApplies(col(idCol), col(textCol), ratePct).cast("int").as("fim"),
      fimText(col(idCol), col(textCol), ratePct, spm).as("text_fim"))

  /** The md5 apply/skip gate of [[fimTransform]], as a Column. */
  private def fimApplies(id: Column, text: Column,
                         ratePct: Int): Column = {
    require(ratePct >= 0 && ratePct <= 100,
      s"ratePct must be in [0,100], got $ratePct")
    text.isNotNull &&
      (hashBucket(concat(id.cast("string"), lit(":fim")), 100) < ratePct)
  }

  /** Column-level core of [[fimTransform]]: the transformed text for
    * gated rows, the input text verbatim otherwise — usable directly in
    * any projection (and registered in SQL as `fim_text(id, text
    * [, rate_pct])`). */
  def fimText(id: Column, text: Column, ratePct: Int = 50,
              spm: Boolean = false): Column = {
    def cut(tag: String): Column = pmod(
      graft.functions.HashExpressions.md5Prefix(
        concat(id.cast("string"), lit(tag)), 8),
      length(text).cast("long") + 1L)
    val lo = least(cut(":f1"), cut(":f2")).cast("int")
    val hi = greatest(cut(":f1"), cut(":f2")).cast("int")
    val prefix = text.substr(lit(1), lo)
    val middle = text.substr(lo + 1, hi - lo)
    val suffix = text.substr(hi + 1, length(text) - hi)
    val rebuilt =
      if (spm) concat(lit("<|fim_suffix|>"), suffix,
        lit("<|fim_prefix|>"), prefix, lit("<|fim_middle|>"), middle)
      else concat(lit("<|fim_prefix|>"), prefix,
        lit("<|fim_suffix|>"), suffix, lit("<|fim_middle|>"), middle)
    when(fimApplies(id, text, ratePct), rebuilt).otherwise(text)
  }

  /** Feature hashing (HashingTF): token → md5 bucket, per-doc bucket
    * counts in tall form — the fixed-width vectorization step that needs
    * no vocabulary table (the hash IS the index), so it is map-side at
    * any corpus size. Portable md5 bucketing ([[hashBucket]]) keeps it
    * engine-reproducible.
    *
    * Shape: the per-doc bucket counts come from the single-pass
    * [[graft.functions.HashBucketCounts]] kernel (MAP-ONLY — one
    * bounded array per doc), then posexplode + `n > 0` re-derives the
    * tall (doc, bucket, n) frame. The former explode → groupBy(doc,
    * bucket) formulation shuffled one row per token INSTANCE; this one
    * shuffles nothing, and consumers that aggregate further start from
    * the same tall rows (identical multiset: slot b counts exactly the
    * tokens the old groupBy counted, absent buckets filter out as the
    * old explode never produced them). */
  def hashFeatures(docs: DataFrame, numBuckets: Int = 64,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(
        graft.functions.HashExpressions.hashBucketCounts(
          wsTokens(lower(col(textCol))), numBuckets))
        .as(Seq("_b", "n")))
      .filter(col("n") > 0)
      .select(col(idCol), col("_b").cast("long").as("bucket"), col("n"))

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling") — score every RAW doc
    * by how target-like its hashed-unigram profile is: the log-ratio
    * of two add-one-smoothed bucket unigram models,
    * w(doc) = Σ_tokens [ln p_target(b) − ln p_raw(b)], the standard
    * cheap data-selection pass before expensive classifiers.
    *
    * Float discipline (`ln` is NOT bit-portable — the q242 rule):
    * every ln is snapped to the 2^-20 grid AS A LONG
    * (floor(ln·2^20 + 0.5)), so the per-doc reduction is EXACT integer
    * arithmetic — order-independent, engine-independent — and the
    * weight is ONE division at the edge:
    * w = (Σ_b n_b·(L(nt_b+1) − L(nr_b+1)) − n_tokens·(L(Nt+B) − L(Nr+B)))
    *     / 2^20.
    *
    * Scale shape: raw text is tokenized ONCE into the per-(doc, bucket)
    * count table; the raw model and its total both derive from that
    * table (no second scan); the target contributes one |buckets|-row
    * model; both |buckets|-row sides broadcast into the doc join. Docs
    * with no tokens have no profile and are absent (the hashFeatures
    * convention). Returns (idCol, n_tokens, weight). */
  def dsirWeights(raw: DataFrame, target: DataFrame,
                  numBuckets: Int = 64,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(numBuckets >= 2, "need at least two buckets")
    def snapLn(c: Column): Column =
      floor(log(c.cast("double")) * 1048576.0 + 0.5).cast("long")
    // both profiles ride the MAP-ONLY [[hashFeatures]] kernel tall
    // frame: the raw (doc, b, n) table needs no aggregation at all now,
    // and the target model is a |buckets|-row sum over its tall rows
    // (= the old per-instance count: Σ_doc n_doc_b)
    val tCnt = hashFeatures(target, numBuckets, idCol, textCol)
      .groupBy(col("bucket").as("b")).agg(sum("n").as("nt"))
    val docb = hashFeatures(raw, numBuckets, idCol, textCol)
      .select(col(idCol), col("bucket").as("b"), col("n"))
    val rCnt = docb.groupBy("b").agg(sum("n").as("nr"))
    // full-outer-by-union: a broadcast hash join cannot plan FULL
    // OUTER, and a 2·|buckets|-row SMJ is a silly shuffle — tag-union
    // the two count tables and re-aggregate instead (absent = 0 either
    // side, exactly the coalesce semantics)
    val delta = tCnt.select(col("b"), col("nt"), lit(0L).as("nr"))
      .unionByName(rCnt.select(col("b"), lit(0L).as("nt"), col("nr")))
      .groupBy("b").agg(sum("nt").as("nt"), sum("nr").as("nr"))
      .select(col("b"),
        (snapLn(col("nt") + 1) - snapLn(col("nr") + 1)).as("d"))
    val consts = tCnt.agg(coalesce(sum("nt"), lit(0L)).as("ct"))
      .crossJoin(broadcast(docb.agg(coalesce(sum("n"), lit(0L)).as("cr"))))
      .select((snapLn(col("ct") + numBuckets) -
        snapLn(col("cr") + numBuckets)).as("c0"))
    docb.join(broadcast(delta), Seq("b"), "left")
      .groupBy(idCol)
      .agg(sum("n").as("n_tokens"),
        sum(col("n") * coalesce(col("d"), lit(0L))).as("sd"))
      .crossJoin(broadcast(consts))
      .select(col(idCol), col("n_tokens"),
        ((col("sd") - col("n_tokens") * col("c0")).cast("double") /
          1048576.0).as("weight"))
  }

  /** DSIR selection: the top-`k` raw docs by [[dsirWeights]] (weight
    * DESC, id ASC — deterministic ties), joined back to their rows.
    * Global top-k plans as TakeOrderedAndProject — no full sort. */
  def dsirSelect(raw: DataFrame, target: DataFrame, k: Int,
                 numBuckets: Int = 64,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(k >= 1, "k must be positive")
    val top = dsirWeights(raw, target, numBuckets, idCol, textCol)
      .orderBy(col("weight").desc, col(idCol)).limit(k)
    raw.join(top.select(col(idCol), col("weight")), Seq(idCol))
  }

  /** Vocabulary-overlap similarity between corpus segments: Jaccard of
    * the distinct-token sets for every pair of `groupCol` values — which
    * sources/languages/time-slices speak the same vocabulary. Pairs with
    * zero shared tokens are absent (inner join on token).
    *
    * Cost scales with the DISTINCT (group, token) domain, not the corpus:
    * the self-join is token-keyed and the per-group sizes broadcast. */
  def vocabOverlap(docs: DataFrame, groupCol: String = "source",
                   textCol: String = "text"): DataFrame = {
    val gt = docs.filter(col(textCol).isNotNull)
      .select(col(groupCol).as("g"),
        explode(wsTokens(lower(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()
    val sizes = gt.groupBy("g").agg(count(lit(1)).as("n"))
    val inter = gt.select(col("g").as("g_a"), col("token"))
      .join(gt.select(col("g").as("g_b"), col("token")), "token")
      .filter(col("g_a") < col("g_b"))
      .groupBy("g_a", "g_b").agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(sizes.select(col("g").as("g_a"),
        col("n").as("n_a"))), "g_a")
      .join(broadcast(sizes.select(col("g").as("g_b"),
        col("n").as("n_b"))), "g_b")
      .select(col("g_a"), col("g_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 6).as("jaccard"))
  }

  /** Dataset-card summary: the per-source statistics a corpus release
    * ships with — document and token counts, size, language spread, and
    * mean quality. One map-side-combined aggregation over the corpus
    * (|sources| rows out); the quality/token expressions are the same
    * map-only columns the gates use, so the card is consistent with the
    * pipeline that produced the data. */
  def datasetCard(docs: DataFrame, sourceCol: String = "source",
                  textCol: String = "text",
                  langCol: String = "lang"): DataFrame =
    docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("docs"),
        sum(tokenCount(col(textCol))).as("tokens"),
        // unrounded exact_long/exact_double division: integer-length
        // averages quantize to 1/n steps whose decimal ties engines
        // round differently (the q03/q70 class)
        (sum(length(col(textCol)).cast("long")) /
          (count(col(textCol)) * 1.0)).as("avg_chars"),
        countDistinct(col(langCol)).as("langs"),
        round(avg(qualityScore(col(textCol))), 6).as("avg_quality"))

  /** Full per-document profile. */
  def profile(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("n_subwords", subwordCount(t))
      .withColumn("stopword_ratio", stopwordRatio(t))
      .withColumn("punct_ratio", punctRatio(t))
      .withColumn("mean_token_len", meanTokenLen(t))
      .withColumn("lang_pred", langIdEn(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("fingerprint", fingerprint(t))
  }

  /** Token-budget-constrained corpus selection: keep the quality-ranked
    * prefix of the corpus whose cumulative token count fits
    * `budgetTokens` — the "fill a 10B-token budget with the best
    * documents" step between scoring and training. Selection order is
    * (quality DESC, id ASC), quality rounded to `qualityDp` decimals so
    * the ranking key is portable across engines.
    *
    * Scale shape — the naive global `SUM OVER (ORDER BY quality)` window
    * is a single-task sort of the whole corpus; this routes around it the
    * same way [[graft.ops.Windows.quantileBucketsByCutpoints]] does:
    * (1) aggregate per-quality-bin token totals (|bins| ≤ 10^`qualityDp`,
    * driver-tiny), (2) one window over the BINS computes each bin's
    * prior-tokens offset, (3) broadcast the offsets back and run the
    * per-document prefix sum WITHIN each bin — windows partitioned by
    * bin, fully parallel, no global sort anywhere. Exact: global cum =
    * bin prior + within-bin prefix, because bins tile the ranking order.
    * Returns (idCol, quality, n_tokens, cum_tokens) for kept docs. */
  /** Per-group [[selectUnderTokenBudget]]: each group (source, domain,
    * language…) fills its OWN token quota with its best documents — the
    * mixture-weighted selection step (quota_g = weight_g · total budget)
    * that keeps one runaway-quality source from eating the whole budget.
    * Groups absent from `budgets` are dropped (a quota of 0 tokens).
    * Same bin-offset decomposition as the global form, with every window
    * additionally keyed by the group — the offsets table grows to
    * |groups|·|bins| rows, still driver-tiny, and the budget rides the
    * broadcast alongside the offsets. */
  def selectUnderTokenBudgetByGroup(docs: DataFrame,
                                    budgets: Map[String, Long],
                                    groupCol: String = "source",
                                    idCol: String = "doc_id",
                                    textCol: String = "text",
                                    qualityDp: Int = 6): DataFrame = {
    require(budgets.nonEmpty, "need at least one group quota")
    require(budgets.valuesIterator.forall(_ >= 0), "quotas must be >= 0")
    val spark = docs.sparkSession
    import spark.implicits._
    val bl = budgets.toSeq.toDF(groupCol, "_budget")
    // persisted because BOTH passes of the prefix-sum decomposition
    // (bin totals, then the per-doc window) consume it: without the
    // persist each consumer re-evaluates the quality battery over the
    // corpus text (the optimizer specializes the shared subtree per
    // consumer, so exchange reuse cannot kick in). The cached frame is
    // the NARROW (group, id, quality, n_tokens, budget) projection —
    // bytes per row, not the corpus — the standard materialization a
    // distributed prefix sum needs. Released by the harness
    // clearCache() between queries.
    val t = docs.join(broadcast(bl), Seq(groupCol))
      .select(col(groupCol), col(idCol),
        round(qualityScore(col(textCol)), qualityDp).as("quality"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"),
        col("_budget"))
      .persist()
    val bins = t.groupBy(groupCol, "quality")
      .agg(sum("n_tokens").as("_btok"), first("_budget").as("_b"))
    val wBins = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("quality").desc)
    val offsets = bins
      .withColumn("_prior", sum("_btok").over(wBins) - col("_btok"))
      .filter(col("_prior") < col("_b"))
      .select(groupCol, "quality", "_prior")
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol, "quality").orderBy(col(idCol))
    t.join(broadcast(offsets), Seq(groupCol, "quality"))
      .withColumn("cum_tokens",
        col("_prior") + sum("n_tokens").over(wDoc))
      .filter(col("cum_tokens") <= col("_budget"))
      .select(col(idCol), col(groupCol), col("quality"), col("n_tokens"),
        col("cum_tokens"))
  }

  def selectUnderTokenBudget(docs: DataFrame, budgetTokens: Long,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             qualityDp: Int = 6): DataFrame = {
    require(budgetTokens >= 0, "budget must be non-negative")
    // persisted for the same two-consumer reason as the per-group form:
    // one quality-battery pass over the text, both prefix-sum passes
    // read the narrow cached frame
    val t = docs.select(col(idCol),
      round(qualityScore(col(textCol)), qualityDp).as("quality"),
      tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .persist()
    val bins = t.groupBy("quality")
      .agg(sum("n_tokens").as("_btok"))
    val wBins = org.apache.spark.sql.expressions.Window
      .orderBy(col("quality").desc)
    val offsets = bins
      .withColumn("_prior", sum("_btok").over(wBins) - col("_btok"))
      // bins whose offset already exceeds the budget can't contribute a
      // single doc — prune them before the broadcast
      .filter(col("_prior") < budgetTokens)
      .select("quality", "_prior")
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("quality").orderBy(col(idCol))
    t.join(broadcast(offsets), Seq("quality"))
      .withColumn("cum_tokens",
        col("_prior") + sum("n_tokens").over(wDoc))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col(idCol), col("quality"), col("n_tokens"),
        col("cum_tokens"))
  }

  /** Deterministic training-shard assignment: a seeded global shuffle of
    * the corpus into `nShards` balanced shards WITHOUT a global sort.
    * `shard` = md5 bucket of the salted key ([[hashBucket]] arithmetic —
    * the q42 split convention, so splits and shards compose); `shard_order`
    * = an independent 60-bit md5 draw giving the within-shard read order.
    * The training permutation is (shard, shard_order, id): epoch readers
    * consume shard files in slot order and rows in file order — no two
    * engines disagree on it, and re-runs are byte-identical (seed in, no
    * RNG state).
    *
    * Scale shape: map-only projection — two md5s per row, nothing
    * shuffles HERE; the one hash exchange happens in
    * [[graft.io.Writers.shardedTrainingSet]] where rows move to their
    * shard writer and each task sorts ONLY its own shard
    * (`sortWithinPartitions` — a per-task sort, never a global range
    * exchange; this is exactly how you lay out a 100 TB training corpus
    * for sequential reads). */
  def trainingShards(docs: DataFrame, idCol: String = "doc_id",
                     nShards: Int = 8, seed: String = ""): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val salted = concat(lit(seed), lit(":"), col(idCol).cast("string"))
    docs.withColumn("shard", hashBucket(salted, nShards))
      .withColumn("shard_order",
        graft.functions.HashExpressions.md5Prefix(
          concat(lit(seed), lit(":o:"), col(idCol).cast("string")), 15))
  }

  /** DSIR-STYLE IMPORTANCE SCORES (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") — rank raw-corpus
    * documents by how much more likely a TARGET-domain hashed-feature
    * LM finds them than the raw-corpus LM: score(d) = (1/n_d) ·
    * Σ_tokens [ln p_target(bucket) − ln p_raw(bucket)] with add-one
    * smoothing over the full bucket domain (unseen buckets take the
    * floor on either side). Select the top slice and you have the
    * classic cheap domain-targeting filter that runs before any
    * model-based scorer. Scores round to 6 dp at the edge (the q95/q176
    * log-score convention); token-less docs score 0.0 with n_tokens 0.
    *
    * Scale: both LMs are numBuckets-row tables (one map-side-combined
    * count each), the weight table ln p_t − ln p_r broadcasts, scoring
    * is the [[hashFeatures]] partial-agg + one doc-keyed sum — raw text
    * never shuffles and the target corpus is read once. */
  def dsirScores(raw: DataFrame, target: DataFrame, numBuckets: Int = 64,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    val spark = raw.sparkSession
    // per-bucket instance counts via the dense map-only kernel (zero
    // rows survive into the sum — identical totals, and `smoothed`
    // coalesces absent and zero alike)
    def counts(df: DataFrame): DataFrame =
      df.filter(col(textCol).isNotNull)
        .select(posexplode(
          graft.functions.HashExpressions.hashBucketCounts(
            wsTokens(lower(col(textCol))), numBuckets))
          .as(Seq("_b", "_c1")))
        .groupBy(col("_b").cast("long").as("bucket"))
        .agg(sum("_c1").as("c"))
    def smoothed(df: DataFrame, pCol: String): DataFrame = {
      val tot = df.agg(sum("c").as("t"))
      spark.range(numBuckets).select(col("id").as("bucket"))
        .join(df, Seq("bucket"), "left")
        .crossJoin(broadcast(tot))
        .select(col("bucket"),
          ((coalesce(col("c"), lit(0L)) + 1).cast("double") /
            (coalesce(col("t"), lit(0L)) + numBuckets).cast("double"))
            .as(pCol))
    }
    val weights = smoothed(counts(target), "pt")
      .join(smoothed(counts(raw), "pr"), Seq("bucket"))
      .select(col("bucket"), (log(col("pt")) - log(col("pr"))).as("w"))
    val dot = hashFeatures(raw, numBuckets, idCol, textCol)
      .join(broadcast(weights), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("n") * col("w")).as("_s"), sum(col("n")).as("_n"))
    raw.select(col(idCol))
      .join(dot, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_n"), lit(0L)).as("n_tokens"),
        round(coalesce(col("_s") / col("_n"), lit(0.0)), 6)
          .as("dsir_score"))
  }

  /** GREEDY sequence packing — the no-overflow complement of
    * [[packSequences]] (whose `floor(cum/budget)` cursor lets a document
    * straddle pack boundaries — fine for token-offset addressing, wrong
    * when each pack must FIT a context window): greedily fill
    * fixed-capacity training sequences (`maxTokens`) with whole
    * documents, in the deterministic [[trainingShards]] order
    * (md5(seed:o:id), then id) WITHIN each md5-assigned shard. A new
    * pack opens when the next document would overflow a non-empty pack;
    * documents longer than the capacity become singleton packs with a
    * `truncated` flag (the caller decides split-vs-drop). Output: one
    * row per document — (shard, pack_id, pack_pos, doc_id, n_tokens,
    * truncated) — deterministic and reproducible run-over-run, the
    * resumable-dataloader property [[trainingShards]] establishes.
    *
    * Scale shape: greedy capacity-reset is inherently sequential, so it
    * runs as ONE pass per shard — `repartition(shard)` +
    * `sortWithinPartitions` + `mapPartitions` (the [[graft.io.Writers
    * .shardedTrainingSet]] sink pattern): each task streams its shards
    * in order carrying O(1) state, no window, no driver involvement;
    * parallelism = shard count, the same knob that sizes the training
    * read. Only (id, shard, order, n_tokens) rows move — text never
    * shuffles. */
  /** @param groupCol optional AFFINITY column (source, topic, cluster
    *                  label): within each shard the walk visits groups
    *                  contiguously (group, then the md5 order inside
    *                  it), so packs hold RELATED documents and straddle
    *                  group boundaries only at group edges — the
    *                  in-context-pretraining layout (Shi et al. 2023:
    *                  related docs in one context window beat random
    *                  packing). `None` (default) keeps the plain md5
    *                  arrival order — bit-identical to before. */
  /** @param countWith optional token counter (text column → LONG
    *                   count) replacing the whitespace proxy — pass
    *                   [[graft.text.TokenizerFiles.tokenCounter]] of a
    *                   loaded tokenizer so packs fill by the REAL
    *                   token budget. `None` keeps the whitespace count
    *                   bit-identical to before. */
  def packSequencesGreedy(docs: DataFrame, maxTokens: Long,
                          nShards: Int = 8, idCol: String = "doc_id",
                          textCol: String = "text",
                          seed: String = "",
                          groupCol: Option[String] = None,
                          countWith: Option[Column => Column] = None)
      : DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    // Carry the id as a STRING through the typed row — doc ids may be
    // strings (trainingShards supports them), and a silent cast("long")
    // would null-crash the encoder or corrupt ids; cast back to the
    // source dtype on output so numeric callers see their own type.
    val idType = docs.schema(idCol).dataType
    val countCol = countWith
      .map(f => f(col(textCol)).cast("long"))
      .getOrElse(tokenCount(coalesce(col(textCol), lit("")))
        .cast("long"))
    val rows = trainingShards(docs, idCol, nShards, seed)
      .select((col("shard") +: col("shard_order") +:
        col(idCol).cast("string").as("id") +:
        countCol.as("n_tokens") +:
        groupCol.map(g => coalesce(col(g).cast("string"), lit(""))
          .as("_grp")).toSeq): _*)
    val ordered = groupCol match {
      case None => rows
        .repartition(nShards, col("shard"))
        .sortWithinPartitions("shard", "shard_order", "id")
      case Some(_) => rows
        .repartition(nShards, col("shard"))
        // group-contiguous walk: same shard assignment, same md5 order
        // WITHIN a group — only the visit order of groups changes
        .sortWithinPartitions("shard", "_grp", "shard_order", "id")
        .drop("_grp")
    }
    ordered
      .select(col("shard"), col("shard_order"), col("id"),
        col("n_tokens"))
      .as[(Long, Long, String, Long)]
      .mapPartitions { it =>
        var shard = -1L; var pack = 0L; var fill = 0L; var pos = 0
        it.map { case (sh, _, id, t) =>
          if (sh != shard) { shard = sh; pack = 0L; fill = 0L; pos = 0 }
          if (fill > 0 && fill + t > maxTokens) {
            pack += 1; fill = 0L; pos = 0
          }
          fill += t; pos += 1
          (sh, pack, pos, id, t, if (t > maxTokens) 1 else 0)
        }
      }
      .toDF("shard", "pack_id", "pack_pos", idCol, "n_tokens",
        "truncated")
      .withColumn(idCol, col(idCol).cast(idType))
  }

  /** BEST-FIT-DECREASING sequence packing — the fill-efficiency
    * alternative to [[packSequencesGreedy]]: within each md5 shard,
    * documents are placed LARGEST FIRST, each into the open pack with
    * the smallest remaining capacity that still fits (tightest fit;
    * ties to the lowest pack id), opening a new pack only when none
    * fits. Classic BFD bin packing — ≤ 11/9·OPT + 4 packs vs
    * first-fit-in-arrival-order's looser bound, and in practice the
    * pad-fraction lever at trainer scale ([[packCompare]] reports the
    * win). The cost: pack contents no longer follow the arrival
    * (resume-order) sequence — greedy remains the packer when the
    * dataloader must replay ingest order.
    *
    * Oversized documents (> maxTokens) become singleton packs with
    * `truncated` = 1 and never enter the pool. `openPool` bounds the
    * best-fit state: when open packs exceed it, the fullest (smallest
    * remaining — least likely to fit any future doc in a descending
    * stream) is closed. Default 4096 packs ≈ tens of KB per task;
    * with the bound the result is exact BFD whenever a shard's open
    * packs stay under the pool, and a documented approximation past
    * it — never an error.
    *
    * Scale shape: identical to greedy — one `repartition(shard)` +
    * per-shard sort (here by size) + `mapPartitions` carrying
    * O(openPool) state; only (id, shard, n_tokens) rows move, text
    * never shuffles, parallelism = shard count. Output schema is
    * [[packSequencesGreedy]]'s; pack ids are creation-ordered per
    * shard. */
  def packSequencesBfd(docs: DataFrame, maxTokens: Long,
                       nShards: Int = 8, idCol: String = "doc_id",
                       textCol: String = "text", seed: String = "",
                       openPool: Int = 4096,
                       countWith: Option[Column => Column] = None)
      : DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    require(openPool >= 1, "openPool must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val idType = docs.schema(idCol).dataType
    val countCol = countWith
      .map(f => f(col(textCol)).cast("long"))
      .getOrElse(tokenCount(coalesce(col(textCol), lit("")))
        .cast("long"))
    val rows = trainingShards(docs, idCol, nShards, seed)
      .select(col("shard"), col(idCol), countCol.as("n_tokens"))
      .repartition(nShards, col("shard"))
      // DESCENDING size is the D in BFD; the SOURCE-TYPED id breaks
      // ties (numeric ids order numerically — a post-cast string sort
      // would silently flip equal-size placements) so the packing is
      // deterministic run-over-run like greedy's
      .sortWithinPartitions(col("shard"), col("n_tokens").desc,
        col(idCol))
      // projection AFTER the sort: a Project preserves row order
      .select(col("shard"), col(idCol).cast("string").as("id"),
        col("n_tokens"))
      .as[(Long, String, Long)]
    rows
      .mapPartitions { it =>
        // open-pack pool: remaining → ids (tightest fit = ceiling
        // lookup), plus per-open-pack (fill, next pos) for emission
        val byRemaining = new java.util.TreeMap[(Long, Long), Unit](
          implicitly[Ordering[(Long, Long)]])
        val state = new scala.collection.mutable.HashMap[
          Long, (Long, Int)]
        var shard = -1L
        var nextPack = 0L
        def reset(sh: Long): Unit = {
          shard = sh; nextPack = 0L
          byRemaining.clear(); state.clear()
        }
        it.map { case (sh, id, t) =>
          if (sh != shard) reset(sh)
          if (t > maxTokens) {
            // oversized: singleton, truncated, never pooled
            val p = nextPack; nextPack += 1
            (sh, p, 1, id, t, 1)
          } else {
            val hit = byRemaining.ceilingKey((t, Long.MinValue))
            if (hit != null) {
              val (rem, p) = hit
              byRemaining.remove(hit)
              val (fill, pos) = state(p)
              val nFill = fill + t
              state(p) = (nFill, pos + 1)
              byRemaining.put((rem - t, p), ())
              (sh, p, pos + 1, id, t, 0)
            } else {
              val p = nextPack; nextPack += 1
              state(p) = (t, 1)
              byRemaining.put((maxTokens - t, p), ())
              if (byRemaining.size > openPool) {
                val evict = byRemaining.firstKey() // smallest remaining
                byRemaining.remove(evict)
                state.remove(evict._2)
              }
              (sh, p, 1, id, t, 0)
            }
          }
        }
      }
      .toDF("shard", "pack_id", "pack_pos", idCol, "n_tokens",
        "truncated")
      .withColumn(idCol, col(idCol).cast(idType))
  }

  /** SIMILARITY-ORDERED packing — in-context pretraining's layout at
    * corpus scale: documents with nearby embeddings should share
    * context windows (Shi et al. 2023 measure the quality win over
    * random packing). The scalable form is cluster-granular: the
    * caller clusters the embeddings ([[graft.ml.Similarity.kmeans]] or
    * any label), the k centroids take a greedy nearest-neighbor CHAIN
    * ([[graft.ml.Similarity.centroidChain]] — driver-side on the
    * k-row table), and each document's group key becomes its cluster's
    * zero-padded chain rank, fed to [[packSequencesGreedy]]'s
    * group-affine walk — so a pack's documents come from ONE cluster
    * (or two chain-ADJACENT ones at boundaries), never a random mix.
    * Docs without an embedding row land in the tail group (rank k),
    * packed after every ranked cluster.
    *
    * Scale ledger: one |k|-row centroid collect + chain, one
    * broadcast-sized rank map joined to the docs, then exactly the
    * grouped-pack ledger row. Returns [[packSequencesGreedy]]'s
    * schema.
    *
    * @param docGranular when true, documents INSIDE each cluster are
    *   additionally similarity-ordered by a bounded-state greedy
    *   nearest-neighbor walk: the cluster's vectors stream through
    *   blocks of at most `chainPool`, each block chained exactly
    *   (start at the smallest id, repeatedly hop to the most-cosine-
    *   similar unvisited vector, ties to the smallest id) — the BFD
    *   openPool argument: exact within a block, block-sequential past
    *   it. Pack neighbors are then near in embedding space at the
    *   DOCUMENT grain, not just the cluster grain. `false` (default)
    *   keeps the cluster-granular layout bit-identical to before.
    * @param chainPool vectors held per walk block (task state is
    *   O(chainPool·dim); block cost is O(chainPool²·dim), so the
    *   default 1024 prices each block at ~10⁸ flops — raise it only
    *   for small corpora where exact whole-cluster chains matter) */
  def packSequencesSimilar(docs: DataFrame, assigned: DataFrame,
                           maxTokens: Long, nShards: Int = 8,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           clusterCol: String = "cluster",
                           vecCol: String = "embedding",
                           seed: String = "",
                           dim: Int = graft.ml.Similarity.DefaultDim,
                           docGranular: Boolean = false,
                           chainPool: Int = 1024): DataFrame = {
    import graft.ml.Similarity
    require(chainPool >= 2 && chainPool <= 99999,
      s"chainPool out of range: $chainPool")
    val spark = docs.sparkSession
    val chain = Similarity.centroidChain(
      Similarity.ivfIndex(
        assigned.select(col(clusterCol), col(vecCol)), clusterCol,
        vecCol), dim)
    val width = math.max(chain.size.toString.length, 1)
    import spark.implicits._
    val rankMap = chain.zipWithIndex
      .map { case (c, r) => (c.toString, f"%%0${width}d".format(r)) }
      .toDF("_icp_cluster", "_icp")
    val tail = f"%%0${width}d".format(chain.size)
    // rank map broadcasts (k rows); the id-keyed docs⋈ranks join is
    // corpus-sized on both sides and shuffles on the id, like every
    // embedding-join in the dedup family
    val baseRanked = assigned
      .select(col(idCol),
        col(clusterCol).cast("string").as("_icp_cluster"))
      .join(broadcast(rankMap), Seq("_icp_cluster"))
      .select(col(idCol), col("_icp"))
    val ranked =
      if (!docGranular) baseRanked
      else {
        // per-cluster bounded NN walk: one repartition on the cluster
        // key (vectors shuffle ONCE — the SemDeDup ledger row), then a
        // streaming per-block chain with O(chainPool·dim) task state.
        // The order key extends the cluster rank: rank~block~step, so
        // the group-affine sort visits chain order inside each cluster
        // and cluster-granular order across them.
        val chained = assigned
          .filter(col(vecCol).isNotNull)
          .select(col(clusterCol).cast("string").as("c"),
            col(idCol).cast("string").as("i"),
            col(vecCol).cast("array<double>").as("v"))
          .repartition(col("c"))
          .sortWithinPartitions("c", "i")
          .as[(String, String, Seq[Double])]
          .mapPartitions { it =>
            val rows = it.buffered
            new Iterator[(String, Long, Int)] {
              private var pending: Iterator[(String, Long, Int)] =
                Iterator.empty
              private var curCluster: String = null
              private var blockNo = 0L
              private def chainBlock(): Unit = {
                val c = rows.head._1
                if (c != curCluster) { curCluster = c; blockNo = 0L }
                else blockNo += 1L
                val ids = new scala.collection.mutable
                  .ArrayBuffer[String](chainPool)
                val vecs = new scala.collection.mutable
                  .ArrayBuffer[Array[Double]](chainPool)
                while (rows.hasNext && rows.head._1 == c &&
                    ids.length < chainPool) {
                  val (_, i2, v2) = rows.next()
                  ids += i2; vecs += v2.toArray
                }
                val m = ids.length
                val norms = new Array[Double](m)
                var z = 0
                while (z < m) {
                  var s2 = 0.0; val a = vecs(z); var t2 = 0
                  while (t2 < a.length) { s2 += a(t2) * a(t2); t2 += 1 }
                  norms(z) = math.sqrt(s2); z += 1
                }
                val visited = new Array[Boolean](m)
                val order = new Array[Int](m)
                // rows arrive id-sorted, so index 0 = smallest id
                visited(0) = true
                var cur = 0
                var step = 1
                while (step < m) {
                  var best = -1
                  var bestCos = Double.NegativeInfinity
                  var j = 0
                  while (j < m) {
                    if (!visited(j)) {
                      val a = vecs(cur); val b = vecs(j)
                      var dot = 0.0
                      var t3 = 0
                      val d3 = math.min(a.length, b.length)
                      while (t3 < d3) { dot += a(t3) * b(t3); t3 += 1 }
                      val den = norms(cur) * norms(j)
                      val cosRaw = if (den == 0.0) 0.0 else dot / den
                      // a NaN cosine (NaN embedding components) must
                      // not strand the walk: NaN fails every strict >,
                      // and an all-NaN candidate row would leave
                      // best = -1 → executor crash. Sentinel -2 sorts
                      // below every real cosine and keeps the
                      // first-maximum = smallest-id tie rule.
                      val cos =
                        if (java.lang.Double.isNaN(cosRaw)) -2.0
                        else cosRaw
                      // strict > keeps the FIRST maximum = smallest id
                      if (cos > bestCos) { bestCos = cos; best = j }
                    }
                    j += 1
                  }
                  visited(best) = true; order(step) = best
                  cur = best; step += 1
                }
                val blk = blockNo
                pending = (0 until m).iterator
                  .map(s3 => (ids(order(s3)), blk, s3))
              }
              def hasNext: Boolean = pending.hasNext || rows.hasNext
              def next(): (String, Long, Int) = {
                if (!pending.hasNext) chainBlock()
                pending.next()
              }
            }
          }
          .toDF("_id", "_blk", "_rk")
        baseRanked
          .withColumn("_ids", col(idCol).cast("string"))
          // left: a null-embedding doc keeps its cluster rank and
          // sorts after that cluster's chained docs
          .join(chained, col("_ids") === col("_id"), "left")
          .select(col(idCol),
            concat(col("_icp"), lit("~"),
              lpad(coalesce(col("_blk"), lit(999999999L))
                .cast("string"), 9, "0"),
              lit("~"),
              lpad(coalesce(col("_rk"), lit(99999))
                .cast("string"), 5, "0")).as("_icp"))
      }
    val grouped = docs.join(ranked, Seq(idCol), "left")
      .withColumn("_icp", coalesce(col("_icp"), lit(tail)))
    packSequencesGreedy(grouped, maxTokens, nShards, idCol, textCol,
      seed, groupCol = Some("_icp"))
  }

  /** Packer DISPATCH for the export paths (batch E9 + the streaming
    * export stage): `"greedy"` keeps arrival order (the resumable-
    * dataloader default), `"bfd"` buys fill efficiency
    * ([[packSequencesBfd]]), `"grouped:<col>"` packs affinity groups
    * contiguously (the in-context-pretraining layout). One dispatch so
    * every export surface prices the same three choices with the same
    * spelling. */
  def packWith(packer: String, docs: DataFrame, maxTokens: Long,
               nShards: Int, seed: String = "",
               countWith: Option[Column => Column] = None): DataFrame =
    packer match {
      case "greedy" =>
        packSequencesGreedy(docs, maxTokens, nShards, seed = seed,
          countWith = countWith)
      case "bfd" =>
        packSequencesBfd(docs, maxTokens, nShards, seed = seed,
          countWith = countWith)
      case g if g.startsWith("grouped:") && g.length > 8 =>
        packSequencesGreedy(docs, maxTokens, nShards, seed = seed,
          groupCol = Some(g.stripPrefix("grouped:")),
          countWith = countWith)
      case other => throw new IllegalArgumentException(
        s"unknown packer '$other' — use greedy, bfd, or grouped:<col>")
    }

  /** FILL-EFFICIENCY comparison of the two packers on one corpus —
    * the report that prices the greedy-vs-BFD choice: per packer, the
    * pack count, doc and token totals, and the fill fraction (total
    * tokens over total capacity, ONE exact-integer quotient). BFD's
    * row is the pad-fraction win; greedy's is the cost of keeping
    * arrival order. Two packing passes + two |packs|-row aggregations;
    * nothing else moves. */
  def packCompare(docs: DataFrame, maxTokens: Long, nShards: Int = 8,
                  idCol: String = "doc_id", textCol: String = "text",
                  seed: String = ""): DataFrame = {
    def summarize(packed: DataFrame, packer: String): DataFrame =
      packed.groupBy(col("shard"), col("pack_id"))
        .agg(count(lit(1)).as("nd"), sum("n_tokens").as("nt"))
        .agg(count(lit(1)).as("n_packs"),
          sum("nd").as("n_docs"), sum("nt").as("n_tokens"))
        .select(lit(packer).as("packer"), col("n_packs"),
          col("n_docs"), col("n_tokens"),
          (col("n_tokens").cast("double") /
            (col("n_packs") * lit(maxTokens)).cast("double"))
            .as("fill_fraction"))
    summarize(packSequencesGreedy(docs, maxTokens, nShards, idCol,
        textCol, seed), "greedy")
      .unionByName(summarize(packSequencesBfd(docs, maxTokens, nShards,
        idCol, textCol, seed), "bfd"))
  }

  /** PACK MANIFEST over [[packSequencesGreedy]]' assignment — the two
    * things a training loader needs per packed sequence: the DOCUMENT
    * BOUNDARY offsets (token positions where one doc ends and the next
    * begins — exactly where cross-document attention must be masked;
    * Zhao et al. 2024 measure the quality cost of skipping this) and
    * the FILL efficiency (n_tokens/maxTokens as the one edge quotient
    * — the padding waste the packer exists to minimize). Per (shard,
    * pack_id): doc count, token total, `boundaries` as a
    * comma-joined running-sum string in pack order (string, not array:
    * engine-portable and manifest-file friendly), fill_fraction, and
    * the pack's `truncated` flag. One grouped aggregation over the
    * packing rows; the in-pack scan runs on the collected per-pack
    * list, bounded by maxTokens/min-doc-tokens docs — an operator
    * constant, never corpus-sized. */
  def packManifest(packed: DataFrame, maxTokens: Long): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    val g = packed.groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        max("truncated").as("truncated"),
        sort_array(collect_list(struct(col("pack_pos"),
          col("n_tokens").as("t")))).as("rows"))
    val sums = expr(
      "transform(sequence(1, size(rows)), i -> cast(" +
        "aggregate(slice(rows, 1, i), 0L, (a, r) -> a + r.t) " +
        "as string))")
    g.select(col("shard"), col("pack_id"), col("n_docs"),
        col("n_tokens"),
        array_join(sums, ",").as("boundaries"),
        (col("n_tokens").cast("double") /
          lit(maxTokens.toDouble)).as("fill_fraction"),
        col("truncated"))
  }

  /** SHARD-BALANCE REPORT over [[trainingShards]]' assignment — the
    * release check that the md5 sharding actually delivered the uniform
    * layout downstream dataloaders assume: per shard, doc and token
    * counts plus the balance ratio n_docs·nShards/total (1.0 =
    * perfectly even; the deviation bound for an md5 split is
    * binomial). One grouped agg over (shard, counts) + a broadcast
    * 1-row total; only nShards rows leave. */
  def shardBalance(docs: DataFrame, nShards: Int = 8,
                   idCol: String = "doc_id", textCol: String = "text",
                   seed: String = ""): DataFrame = {
    val per = trainingShards(docs, idCol, nShards, seed)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(coalesce(col(textCol), lit(""))).cast("long"))
          .as("n_tokens"))
    val tot = per.agg(sum("n_docs").as("_total"))
    per.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        ((col("n_docs") * nShards).cast("double") / col("_total"))
          .as("balance"))
  }

  /** Reciprocal-rank fusion of retrieval runs: rrf(d) = Σ_runs
    * 1/(rrfK + rank_run(d)) — the standard score-free way to combine a
    * lexical run ([[bm25TopK]]) with a vector run
    * ([[graft.ml.Similarity.bruteForceTopK]]) or any other ranked
    * candidate list, robust to incomparable score scales.
    *
    * Each input is a RUN — an already-truncated top-k candidate list
    * (≲ thousands of rows), not a corpus: ranking uses one
    * single-partition `row_number` window per run, which is exactly right
    * at that size (the corpus-scale work happened inside the run
    * generators). Ranks are assigned on (`scoreCol` DESC, `idCol` ASC) so
    * the rank key is total and engine-portable; fusion is a fold of
    * |runs|−1 tiny full-outer joins, and the contribution sum is built in
    * fixed run order, so the floating-point result is deterministic.
    * Output: (id, rank_1.. rank_n nullable, rrf_score, n_runs),
    * top `topK` by (rrf_score DESC, id). */
  def rrfFuse(runs: Seq[DataFrame], idCol: String = "doc_id",
              scoreCol: String = "score", rrfK: Int = 60,
              topK: Int = 10): DataFrame = {
    require(runs.size >= 2, "fusion needs at least two runs")
    require(rrfK >= 1, "rrfK must be positive")
    require(topK > 0, "topK must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(scoreCol).desc, col(idCol))
    val ranked = runs.zipWithIndex.map { case (r, i) =>
      r.select(col(idCol), row_number().over(w).as(s"rank_${i + 1}"))
    }
    val joined = ranked.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    // 1/(k+r) terms are identical doubles in any IEEE engine (correctly-
    // rounded division of small integers) and the addition order is the
    // fixed run order — bit-reproducible, no rounding needed
    val score = runs.indices
      .map(i => coalesce(lit(1.0) / (lit(rrfK) + col(s"rank_${i + 1}")),
        lit(0.0)))
      .reduce(_ + _)
    val hits = runs.indices
      .map(i => when(col(s"rank_${i + 1}").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    joined
      .withColumn("rrf_score", score)
      .withColumn("n_runs", hits)
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(topK)
  }

  /** STRUCTURED-OUTPUT extraction QA — the JSON-mode health gauge for
    * model responses that are SUPPOSED to be machine-readable: per
    * group (model version, prompt template, source), how many responses
    * yield the required JSON field at `path`, the exact-quotient rate,
    * and the distinct extracted-value count (a 1-value column on a
    * supposedly varied field is its own red flag). Truncated JSON,
    * prose, and valid JSON MISSING the field all count as failures —
    * the consumer's definition of usable. Map-side extraction + one
    * grouped count; responses never shuffle. */
  def structuredOutputRate(df: DataFrame, textCol: String = "text",
                           path: String = "$.answer",
                           groupCols: Seq[String] = Seq("source"))
      : DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val extracted = get_json_object(col(textCol), path)
    df.select((groupCols.map(col) :+ extracted.as("_v")): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_v").isNotNull, 1L).otherwise(0L)).as("n_valid"),
        count_distinct(col("_v")).as("n_distinct_values"))
      .withColumn("valid_rate", col("n_valid").cast("double")
        / col("n_docs").cast("double"))
  }

  /** EXTRACTIVE-FRAGMENT coverage/density (the Newsroom diagnostic,
    * Grusky et al. 2018, in its RELATIONAL form) — the
    * summarization-data QA gauge: how much of a summary is lifted
    * verbatim from its article, and in how long spans? Per summary
    * token position i, `bestLen(i)` = the longest article match
    * starting there (capped at `maxLen` — long verbatim runs saturate
    * the verdict anyway); COVERAGE = fraction of positions with any
    * match, DENSITY = mean bestLen² (Newsroom's density with per-
    * position maxima instead of greedy consumption — order-free, so it
    * joins instead of looping; ≥ the greedy value, same read: low
    * coverage = abstractive/hallucination-risky, high density =
    * copy-paste). Exact integers + one division each — bit-portable
    * with no grid.
    *
    * Scale shape: both sides explode to (pair, position, ≤maxLen-token
    * window) rows — window slices are bounded, full token arrays never
    * join; candidates pair on (pair, first token) — the q251 class,
    * never across pairs; one per-position max + one per-pair reduction,
    * all partial-agged. */
  def extractiveFragments(pairs: DataFrame, idCol: String = "pair_id",
                          articleCol: String = "article",
                          summaryCol: String = "summary",
                          maxLen: Int = 8): DataFrame = {
    require(maxLen >= 1 && maxLen <= 16, "maxLen out of range")
    def toks(c: Column): Column =
      filter(wsTokens(lower(c)), w => length(w) > 0)
    // size guard: Spark sequence(1, 0) DESCENDS — an empty side must
    // drop its pair (matching the oracle's empty generate_series), not
    // explode a bogus [1, 0] position list
    def windows(side: Column, posAs: String, winAs: String) = pairs
      .filter(side.isNotNull)
      .select(col(idCol).as("id"), toks(side).as("_t"))
      .filter(size(col("_t")) > 0)
      .select(col("id"), explode(expr(
        s"transform(sequence(1, size(_t)), " +
          s"i -> struct(i AS p, slice(_t, i, $maxLen) AS w))")).as("b"))
      .select(col("id"), col("b.p").as(posAs), col("b.w").as(winAs))
    val sExp = windows(col(summaryCol), "i", "ws")
      .withColumn("k", element_at(col("ws"), 1))
    val aExp = windows(col(articleCol), "j", "wa")
      .withColumn("k", element_at(col("wa"), 1))
    // prefix match length: innermost-out nested CASE over guarded
    // element equality (positions past either window fail, never
    // null-match)
    // get() (0-based) is out-of-bounds-NULL even under ANSI, where
    // element_at would throw on positions past a short window
    val mlen = (1 to maxLen).reverse.foldLeft(lit(maxLen): Column) {
      (inner, t) =>
        when(get(col("ws"), lit(t - 1)).isNotNull &&
          get(col("ws"), lit(t - 1)) === get(col("wa"), lit(t - 1)),
          if (t == maxLen) lit(maxLen) else inner)
          .otherwise(lit(t - 1))
    }
    val best = sExp.join(aExp, Seq("id", "k"))
      .select(col("id"), col("i"), mlen.as("l"))
      .groupBy("id", "i").agg(max("l").as("bl"))
    val perPos = sExp.select(col("id"), col("i"))
      .join(best, Seq("id", "i"), "left")
      .select(col("id"), coalesce(col("bl"), lit(0)).as("bl"))
    perPos.groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("bl") >= 1, 1L).otherwise(0L)).as("matched_tokens"),
        max("bl").cast("int").as("max_match"),
        sum((col("bl") * col("bl")).cast("long")).as("_d"))
      .select(col("id").as(idCol), col("n_tokens"), col("matched_tokens"),
        col("max_match"),
        (col("matched_tokens").cast("double")
          / col("n_tokens").cast("double")).as("coverage"),
        (col("_d").cast("double") / col("n_tokens").cast("double"))
          .as("density"))
  }

  /** chrF — character n-gram F-β (Popović 2015), the reference-based
    * QA metric for translation / rewrite / distillation pairs (robust
    * to tokenization, which is why WMT adopted it over BLEU for
    * morphology-rich languages): per (ref, hyp) pair, multiset char
    * n-gram precision and recall for n = 1..maxN over the
    * whitespace-stripped case-folded strings, averaged into CHRP/CHRR,
    * then F_β = (1+β²)·P·R/(β²·P+R) with β² = 4 (β = 2, recall-weighted,
    * the standard). n-levels where either side has no n-grams are
    * skipped and reported via n_levels; a pair with no usable level
    * (e.g. empty strings) scores NULL.
    *
    * Bit-portable: overlaps and gram totals are exact integers, each
    * P_n/R_n is one division, the level means fold in n order (≤ maxN
    * terms), and F_β is a fixed shape of IEEE ops. Scale shape: the
    * gram explode is maxN rows per character — linear in corpus bytes,
    * map-side; counting and the overlap join are keyed on (pair, n,
    * gram) so nothing crosses pairs; per-pair reductions are
    * partial-agged. */
  def chrF(pairs: DataFrame, idCol: String = "pair_id",
           refCol: String = "ref", hypCol: String = "hyp",
           maxN: Int = 6, betaSq: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 10, "maxN out of range")
    require(betaSq >= 0, "betaSq must be non-negative")
    // per-pair native counting kernel: chrF never crosses pairs, so the
    // whole metric is ONE map-side projection — no gram explode, no
    // shuffle (the exploded (id, n, gram)-count form measured 7-15 s at
    // sf0.1; this shape is sub-second). Levels come back n-ascending,
    // so the in-row folds are already in the oracle's n order.
    val st = graft.functions.VectorExpressions.chrfStats(
      regexp_replace(lower(col(refCol)), "\\s+", ""),
      regexp_replace(lower(col(hypCol)), "\\s+", ""), maxN)
    val nl = col("_nl")
    val chrp = when(nl > 0, expr(
      "aggregate(_lv, CAST(0.0 AS DOUBLE), " +
        "(a, x) -> a + CAST(x.o AS DOUBLE) / CAST(x.h AS DOUBLE))")
      / nl.cast("double"))
    val chrr = when(nl > 0, expr(
      "aggregate(_lv, CAST(0.0 AS DOUBLE), " +
        "(a, x) -> a + CAST(x.o AS DOUBLE) / CAST(x.r AS DOUBLE))")
      / nl.cast("double"))
    pairs.select(col(idCol), st.as("_st"))
      .withColumn("_lv", expr("filter(_st, x -> x.r > 0 AND x.h > 0)"))
      .withColumn("_nl", size(col("_lv")))
      .select(col(idCol), nl.cast("long").as("n_levels"),
        chrp.as("chrp"), chrr.as("chrr"))
      .withColumn("chrf",
        when(col("chrp").isNotNull,
          when(lit(betaSq) * col("chrp") + col("chrr") > 0,
            (lit(1 + betaSq) * col("chrp") * col("chrr"))
              / (lit(betaSq) * col("chrp") + col("chrr")))
            .otherwise(lit(0.0))))
  }

  /** BLEU n-gram statistics per pair, long form — one row per
    * (pair, n ≤ maxN): clipped matches (the Papineni et al. 2002
    * modified-precision numerator, Σ_g min(count_hyp, count_ref)),
    * ref/hyp n-gram totals, and the modified precision p_n itself
    * (one exact-integer division — bit-portable). Counting rides the
    * [[graft.functions.BleuStats]] one-pass kernel, so the whole
    * statistic is a map-side projection (the [[chrF]] argument:
    * BLEU never crosses pairs) — no gram explode, no shuffle. Text is
    * lowercased and whitespace-tokenized; BLEU's word granularity is
    * why WMT moved to [[chrF]], but BLEU remains the reported
    * standard for generation evals. */
  def bleuNgramStats(pairs: DataFrame, idCol: String = "pair_id",
      refCol: String = "ref", hypCol: String = "hyp",
      maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 16, "maxN out of range")
    val st = graft.functions.VectorExpressions.bleuStats(
      lower(col(refCol)), lower(col(hypCol)), maxN)
    pairs.select(col(idCol), explode(st).as("lv"))
      .select(col(idCol), col("lv.n").as("n"),
        col("lv.o").as("clip_matches"),
        col("lv.r").as("ref_total"), col("lv.h").as("hyp_total"))
      .withColumn("p_n", when(col("hyp_total") > 0,
        col("clip_matches").cast("double")
          / col("hyp_total").cast("double")))
  }

  /** The shared BLEU tail: per-level precisions, the geometric mean,
    * and the log brevity penalty over a frame carrying ref_len,
    * hyp_len, o_i, h_i columns. geo_mean uses the exact unsmoothed
    * form (0.0 the moment any level has zero matches) and — for the
    * standard power-of-two maxN — a fixed-association product under a
    * sqrt chain, both IEEE-correctly-rounded, so the value is
    * bit-portable across engines (`pow` fallback otherwise). bp_log =
    * min(0, 1 − r/c) stays in log space: `exp` is NOT cross-engine
    * bit-portable (the q242 lesson), so the full `bleu` column is the
    * one non-portable output — spec-gated, excluded from oracles. */
  private def bleuTail(d0: DataFrame, maxN: Int): DataFrame = {
    val withP = (1 to maxN).foldLeft(d0) { (d, i) =>
      d.withColumn(s"p_$i", when(col(s"h_$i") > 0,
        col(s"o_$i").cast("double") / col(s"h_$i").cast("double")))
    }
    val anyZero = (1 to maxN).map(i => col(s"o_$i") === 0)
      .reduce(_ || _)
    val prod = (1 to maxN).map(i => col(s"p_$i")).reduce(_ * _)
    def root(c: Column, k: Int): Column =
      if (k == 1) c else root(sqrt(c), k / 2)
    val geo = if (Integer.bitCount(maxN) == 1) root(prod, maxN)
      else pow(prod, lit(1.0 / maxN))
    withP
      .withColumn("geo_mean", when(anyZero, lit(0.0)).otherwise(geo))
      .withColumn("bp_log", when(col("hyp_len") > 0,
        least(lit(0.0), lit(1.0) - col("ref_len").cast("double")
          / col("hyp_len").cast("double"))))
      .withColumn("bleu", when(col("geo_mean") === 0, lit(0.0))
        .otherwise(exp(col("bp_log")) * col("geo_mean")))
  }

  /** SENTENCE BLEU per pair (exact unsmoothed form — short hyps with a
    * zero level score 0.0, the reason corpus BLEU is the reported
    * statistic): lengths, per-level clipped counts and precisions,
    * bit-portable geo_mean/bp_log, and the full `bleu` (spec-gated —
    * see [[bleuNgramStats]]). Map-only, one kernel pass per pair. */
  def sentenceBleu(pairs: DataFrame, idCol: String = "pair_id",
      refCol: String = "ref", hypCol: String = "hyp",
      maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 16, "maxN out of range")
    val st = graft.functions.VectorExpressions.bleuStats(
      lower(col(refCol)), lower(col(hypCol)), maxN)
    val d0 = (1 to maxN).foldLeft(
      pairs.select(col(idCol), st.as("_st"))
        .withColumn("ref_len", col("_st")(0).getField("r"))
        .withColumn("hyp_len", col("_st")(0).getField("h"))) { (d, i) =>
      d.withColumn(s"o_$i", col("_st")(i - 1).getField("o"))
        .withColumn(s"h_$i", col("_st")(i - 1).getField("h"))
    }
    bleuTail(d0, maxN).drop("_st")
  }

  /** CORPUS BLEU — the reported WMT statistic: clipped matches and
    * totals SUMMED over all pairs before the precision divisions
    * (never an average of sentence BLEUs), brevity penalty from the
    * summed lengths. ONE map-side-combined aggregation over the
    * kernel's long-form stats — report-sized output, corpus text
    * enters once. Columns as [[sentenceBleu]]; `bleu` spec-gated. */
  def corpusBleu(pairs: DataFrame, idCol: String = "pair_id",
      refCol: String = "ref", hypCol: String = "hyp",
      maxN: Int = 4): DataFrame = {
    val stats = bleuNgramStats(pairs, idCol, refCol, hypCol, maxN)
    val aggs =
      Seq(sum(when(col("n") === 1, col("ref_total"))).as("ref_len"),
        sum(when(col("n") === 1, col("hyp_total"))).as("hyp_len")) ++
      (1 to maxN).flatMap { i => Seq(
        sum(when(col("n") === i, col("clip_matches"))).as(s"o_$i"),
        sum(when(col("n") === i, col("hyp_total"))).as(s"h_$i")) }
    bleuTail(stats.agg(aggs.head, aggs.tail: _*), maxN)
  }

  /** DELETED-INTERPOLATION λ re-estimation (Jelinek-Mercer EM) — the
    * step that TUNES the λ [[interpolatedNll]] consumes instead of
    * guessing it: one EM round on held-out data, λ' = Σ_tokens
    * E[bigram component | token] / Σ_tokens 1 with the responsibility
    * e = λp₂/(λp₂+(1−λ)p₁) under the TRAIN-corpus MLE bigram/unigram
    * models. Run it a few fixed rounds (each call is one round — the
    * bpeTrain unrolling convention) and λ converges to the held-out
    * optimum. Held-out tokens with λp₂+(1−λ)p₁ = 0 (both words unseen
    * in train) carry no signal and are excluded, reported via
    * n_scored < n_tokens.
    *
    * Numerics: p₂, p₁ are single exact-integer-quotient divisions; each
    * responsibility is one more division snapped to the 2⁻²⁰ grid, then
    * weighted by integer held-out counts — exact order-independent
    * sums (the looAttribution bound); λ' is one final division. Pass a
    * DYADIC λ₀ (default 1/2) so the mix products stay exact.
    *
    * Scale shape: train reduces to its bigram/context/unigram type
    * tables (the bigramNll ledger); held-out reduces to bigram-type
    * counts; all joins live on token-type domains, Zipf-bounded. One
    * 1-row total broadcast; corpus text never re-enters. */
  def deletedInterpolationRound(train: DataFrame, heldOut: DataFrame,
                                lambda0: Double = 0.5,
                                textCol: String = "text"): DataFrame = {
    require(lambda0 > 0 && lambda0 < 1, "lambda0 must be in (0, 1)")
    def bigrams(df: DataFrame) = df.filter(col(textCol).isNotNull)
      .select(filter(wsTokens(lower(col(textCol))),
        t => length(t) > 0).as("toks"))
      .filter(size(col("toks")) > 1)
      .select(explode(expr("transform(sequence(1, size(toks) - 1), " +
        "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val tb = bigrams(train)
    val cbg = tb.groupBy("w1", "w2").agg(count(lit(1)).as("c_bg"))
    val cw1 = tb.groupBy("w1").agg(count(lit(1)).as("c_w1"))
    val uni = train.filter(col(textCol).isNotNull)
      .select(explode(filter(wsTokens(lower(col(textCol))),
        t => length(t) > 0)).as("w2"))
      .groupBy("w2").agg(count(lit(1)).as("c_u"))
    val nTot = uni.agg(sum("c_u").as("n_tot"))
    val scored = bigrams(heldOut).groupBy("w1", "w2")
      .agg(count(lit(1)).as("h"))
      .join(cbg, Seq("w1", "w2"), "left")
      .join(cw1, Seq("w1"), "left")
      .join(uni, Seq("w2"), "left")
      .crossJoin(broadcast(nTot))
      .withColumn("p2", when(col("c_bg").isNotNull,
        col("c_bg").cast("double") / col("c_w1").cast("double"))
        .otherwise(lit(0.0)))
      .withColumn("p1", when(col("c_u").isNotNull,
        col("c_u").cast("double") / col("n_tot").cast("double"))
        .otherwise(lit(0.0)))
      .withColumn("mix",
        lit(lambda0) * col("p2") + lit(1.0 - lambda0) * col("p1"))
      .withColumn("e", when(col("mix") > 0,
        floor(lit(lambda0) * col("p2") / col("mix") * 1048576.0 + 0.5)
          / 1048576.0))
    scored.agg(sum(col("h")).as("n_tokens"),
        coalesce(sum(when(col("e").isNotNull, col("h"))), lit(0L))
          .as("n_scored"),
        (sum(when(col("e").isNotNull, col("h") * col("e")))
          / sum(when(col("e").isNotNull, col("h")))).as("lambda_new"))
      .select(col("n_tokens"), col("n_scored"),
        lit(lambda0).as("lambda0"), col("lambda_new"))
  }

  /** CONFIDENT-LEARNING label-error estimate (Northcutt et al. 2021,
    * "cleanlab") — the label-noise audit an annotated training set runs
    * before anyone fine-tunes on it: items whose predicted confidence
    * in the OTHER class exceeds that class's self-confidence threshold
    * t_j (the mean predicted probability of class j among items LABELED
    * j) are counted as likely label errors, yielding the binary joint
    * matrix C[noisy][est_true] plus each class's threshold. Off-diagonal
    * rows are the review queue; their rate calibrates how much to trust
    * the labels ([[cohenKappa]] audits the RATERS; this audits the
    * labels against a model).
    *
    * Bit-portable: probabilities snap to the 2⁻¹² dyadic grid before
    * any sum (calibration-scale quantization, far below label-noise
    * signal), so both class-threshold means are exact-integer-numerator
    * quotients; every comparison is between identically-derived
    * doubles. Scale shape: one grid-snap projection, one 2-row
    * conditional-mean agg (broadcast), one map-side CASE, one 4-row
    * count agg — nothing bigger than the corpus scan. */
  def confidentLearning(scored: DataFrame, probCol: String = "prob",
                        labelCol: String = "label"): DataFrame = {
    val grid = lit(4096.0)
    val d = scored
      .filter(col(probCol).isNotNull && col(labelCol).isNotNull)
      .select((floor(col(probCol) * grid + 0.5) / grid).as("p"),
        col(labelCol).cast("int").as("y"))
    val th = d.agg(
      (sum(when(col("y") === 1, col("p"))) /
        sum(when(col("y") === 1, 1L))).as("t1"),
      (sum(when(col("y") === 0, lit(1.0) - col("p"))) /
        sum(when(col("y") === 0, 1L))).as("t0"))
    d.crossJoin(broadcast(th))
      .select(col("y").as("noisy_label"),
        when(col("y") === 0 && col("p") >= col("t1"), 1)
          .when(col("y") === 1 && lit(1.0) - col("p") >= col("t0"), 0)
          .otherwise(col("y")).as("est_true"),
        col("t0"), col("t1"))
      .groupBy("noisy_label", "est_true", "t0", "t1")
      .agg(count(lit(1)).as("n"))
      .withColumn("flagged",
        (col("noisy_label") =!= col("est_true")).cast("int"))
  }

  /** RETRIEVAL EVALUATION — the trec_eval core as one operator: given a
    * ranked RUN (query, doc, rank) and graded QRELS (query, doc, rel),
    * per-query Recall@k, MRR@k, and nDCG@k — the metric triple every
    * retrieval / RAG pipeline reports. Gains are the standard 2^rel − 1;
    * rank discounts 1/log₂(i+1) are baked in as PLAN-TIME LITERALS for
    * i ≤ k (the planeComponent convention — both engines consume the
    * same decimal strings, so no runtime ln enters the comparison), and
    * both DCG folds run in rank order, so every metric is bit-portable:
    * integer gains × literal discounts, sequential folds, one division
    * each at the edge. Queries with no positive qrels report NULL
    * recall/ndcg and 0 MRR (nothing to find ≠ found nothing); run rows
    * past rank k are ignored (metrics@k).
    *
    * Scale shape: one (query, doc)-keyed join of the rank-k-capped run
    * against positive qrels, two per-query folds over ≤ k rows, one
    * qrels window for the ideal ordering (WindowGroupLimit-capped at
    * k). Runs are already top-k by construction, so every structure
    * here is |queries|·k rows — eval-suite-sized, never corpus-sized. */
  def retrievalEval(run: DataFrame, qrels: DataFrame, k: Int = 10,
                    queryCol: String = "query_id", docCol: String = "doc_id",
                    rankCol: String = "rank", relCol: String = "rel")
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && k <= 1000, "k out of the literal-table range")
    val disc = typedlit((1 to k).map(i =>
      1.0 / (math.log(i + 1.0) / math.log(2.0))))
    val q = col(queryCol)
    val pos = qrels.filter(col(relCol) > 0)
      .select(q.as("q"), col(docCol).as("d"), col(relCol).cast("int").as("r"))
    val nRel = pos.groupBy("q").agg(count(lit(1)).as("n_rel"))
    val topk = run.filter(col(rankCol) <= k)
      .select(q.as("q"), col(docCol).as("d"),
        col(rankCol).cast("int").as("rk"))
    val hits = topk.join(pos, Seq("q", "d"))
      .withColumn("term", (expr("shiftleft(CAST(1 AS BIGINT), r)") - 1L)
        .cast("double") * element_at(disc, col("rk")))
    val perQ = hits.groupBy("q")
      .agg(count(lit(1)).as("hits_at_k"),
        min("rk").as("_first"),
        aggregate(array_sort(collect_list(struct(col("rk"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("dcg"))
    val wI = Window.partitionBy("q").orderBy(col("r").desc, col("d").asc)
    val ideal = pos.withColumn("pos", row_number().over(wI))
      .filter(col("pos") <= k)
      .withColumn("term", (expr("shiftleft(CAST(1 AS BIGINT), r)") - 1L)
        .cast("double") * element_at(disc, col("pos")))
      .groupBy("q")
      .agg(aggregate(array_sort(collect_list(struct(col("pos"), col("term")))),
        lit(0.0), (acc, x) => acc + x.getField("term")).as("idcg"))
    run.select(q.as("q")).distinct()
      .join(nRel, Seq("q"), "left")
      .join(perQ, Seq("q"), "left")
      .join(ideal, Seq("q"), "left")
      .select(col("q").as(queryCol),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("hits_at_k"), lit(0L)).as("hits_at_k"),
        when(col("n_rel") > 0, coalesce(col("hits_at_k"), lit(0L))
          .cast("double") / col("n_rel").cast("double")).as("recall_at_k"),
        coalesce(when(col("_first").isNotNull,
          lit(1.0) / col("_first").cast("double")), lit(0.0)).as("mrr"),
        coalesce(col("dcg"), lit(0.0)).as("dcg"),
        when(col("idcg") > 0,
          coalesce(col("dcg"), lit(0.0)) / col("idcg")).as("ndcg"))
  }

  /** DISTRIBUTED LOGISTIC-REGRESSION TRAINER — the FineWeb-Edu-style
    * workflow's missing half (train on labeled docs, sweep the
    * threshold with [[thresholdSweep]], deploy the cutoff into
    * [[scoreLinearModel]]): fixed-iteration FULL-BATCH gradient descent
    * over [[hashFeatures]] hashed-token counts. The feature table is
    * compacted to one array row per doc and persisted once; per round,
    * predictions and residuals are MAP-SIDE expressions against the
    * driver-held |buckets|-double weight vector (shipped as plan
    * literals — model-sized state, the seedCentroids convention), and
    * the only distributed op is ONE |buckets|-row gradient aggregation
    * whose bounded collect updates the weights. The corpus never
    * shuffles; each round is a single job.
    *
    * BIT-PORTABILITY BY CONSTRUCTION (the reason this trainer exists as
    * an oracle-gated operator while `exp`/`ln` models stay spec-gated,
    * q148/q156's rule): the activation is the HARD sigmoid
    * `clip(z/4 + 1/2, 0, 1)` (the standard quantized-network surrogate
    * whose residual `p − y` is the logistic cross-entropy gradient form
    * with σ hardened), the residual is quantized to the 2^-12 dyadic
    * grid via the tie-free `floor(r·4096 + 1/2)/4096`, and the learning
    * rate is `2^-lrShift` — so EVERY intermediate (prediction, residual,
    * gradient, weight) is a small dyadic rational, every double op is
    * EXACT, every sum is order-independent, and the trained weights are
    * bit-identical across engines and across runs. Exactness headroom:
    * residual grid 2^-12 × integer counts keeps gradients under 2^32
    * ulp-free; weights live on the fixed 2^-(lrShift+12) grid.
    *
    * Gradient: `g[b] = Σ_docs (p_d − y_d)·count_d(b)`;
    * update `w[b] ← w[b] − 2^-lrShift · g[b]` (the 1/n normalization is
    * absorbed into the shift — pick `lrShift ≈ log2(corpus tokens)`;
    * the 2^-20 default is sized for ~10⁶-token corpora). Docs whose
    * text yields no hashable tokens contribute no gradient (no
    * features). Returns the (bucket, weight) model
    * [[scoreLinearModel]] consumes verbatim. */
  def logisticTrain(docs: DataFrame, labelCol: String,
                    numBuckets: Int = 64, iters: Int = 3,
                    lrShift: Int = 20,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(iters > 0, "iters must be positive")
    require(lrShift >= 0 && lrShift <= 40, "lrShift out of range")
    val spark = docs.sparkSession
    val lr = 1.0 / (1L << lrShift)
    // Per-doc DENSE feature rows, built once and MAP-ONLY: the
    // [[graft.functions.HashBucketCounts]] kernel emits the
    // |buckets|-long count array straight from the token array — no
    // explode, no (doc, bucket) aggregation, no label join (the label
    // rides the same projection). The former collect_list shape cost
    // three exchanges before the loop even started. Docs with no
    // hashable tokens carry an all-zero array; the `_n > 0` filter
    // before the gradient aggregation drops their (and every absent
    // bucket's) contribution, so the touched-bucket set and every
    // gradient sum match the old sparse formulation exactly (sums are
    // exact dyadics — order- and zero-term-free, see above).
    val fv = docs.filter(col(labelCol).isNotNull &&
        col(textCol).isNotNull)
      .select(graft.functions.HashExpressions.hashBucketCounts(
          wsTokens(lower(col(textCol))), numBuckets).as("_c"),
        col(labelCol).cast("double").as("_y"))
      .persist()
    // DRIVER-HELD weight vector (|buckets| doubles — model-sized, the
    // seedCentroids convention): per round the prediction is a MAP-SIDE
    // array reduction against the literal weights and the only
    // distributed op is ONE |buckets|-row gradient aggregation +
    // bounded collect. The former formulation round-tripped w through
    // persisted DataFrames — 3 joins, a per-doc shuffle and a
    // materialization barrier per iteration; every intermediate is
    // exact-dyadic (see above), so the per-doc sum reassociation from
    // "arbitrary shuffle order" to "array order" is value-identical
    // (ExtensionsSpec pins separability + determinism; q217/q218 pin
    // the full trainer against the oracle).
    val wArr = new Array[Double](numBuckets)
    val touched = new Array[Boolean](numBuckets)
    for (it <- 1 to iters) {
      // dense dot product against the literal weight vector via the
      // native [[graft.functions.DotProduct]] kernel (one node — a
      // 64-term element_at chain costs real planning time per
      // iteration), bucket index order — every term is exact (dyadic
      // weight × integer count) so the reassociation from the old
      // sparse array order is value-free; zero-count terms contribute
      // ±0.0, which cannot move a sum and whose sign dies in
      // `pred*0.25 + 0.5`
      val pred =
        if (it == 1) lit(0.0)
        else graft.functions.VectorExpressions.dotProduct(
          col("_c").cast("array<double>"), typedlit(wArr.toVector))
      val r = floor((greatest(lit(0.0), least(lit(1.0),
        pred * 0.25 + 0.5)) - col("_y")) * 4096 + 0.5) / 4096
      // _r is PRE-PROJECTED below the generator: a projection in the
      // same select as posexplode lands ABOVE the Generate and would
      // re-evaluate the dot once per GENERATED row (64×/doc — measured
      // 3× the whole aggregation); as a lower Project it runs once per
      // document and Generate just replicates the attribute
      val grad = fv.select(r.as("_r"), col("_c"))
        .select(col("_r"), posexplode(col("_c")).as(Seq("_b", "_n")))
        .filter(col("_n") > 0)
        .groupBy(col("_b"))
        .agg(sum(col("_n") * col("_r")).as("_g"))
        .collect()
      grad.foreach { row =>
        val b = row.getInt(0)
        val g = row.getDouble(1)
        // same expression shapes as the old DataFrame update, so ±0.0
        // falls out identically: first round -(lr·g), then w − lr·g
        wArr(b) = if (!touched(b)) -(lr * g) else wArr(b) - lr * g
        touched(b) = true
      }
    }
    fv.unpersist(false)
    val rows = (0 until numBuckets).filter(touched)
      .map(b => (b.toLong, wArr(b)))
    import spark.implicits._
    rows.toDF("bucket", "weight")
  }

  /** Linear text-classifier inference (the fastText-shaped quality/topic
    * scorer every curation stack runs after hand-tuned rules):
    * logit(d) = bias + Σ_buckets count_d(bucket)·weight(bucket) over
    * [[hashFeatures]] hashed-token counts, label = logit > 0, prob =
    * σ(logit). `weights` is the trained model: (bucket, weight) rows,
    * |buckets| total. It is collected when the frame is built and
    * scored as a plan literal, so scoring is one map-only projection
    * with no shuffle. A bucket outside [0, numBuckets) fails the call;
    * when a bucket appears in several rows the last collected row wins.
    * Docs with no hashable tokens (null/empty text) still score:
    * logit = bias.
    *
    * Cross-engine note: with integer-valued weights the dot product is
    * exact integer arithmetic in doubles (order-independent); arbitrary
    * real weights make it IEEE-order-dependent like any distributed sum. */
  def scoreLinearModel(docs: DataFrame, weights: DataFrame,
                       numBuckets: Int = 64, bias: Double = 0.0,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    // The model is |buckets| rows BY CONTRACT — collect it to plan
    // literals (the logisticTrain driver-held-weights convention) and
    // score MAP-ONLY with the dense [[graft.functions
    // .HashBucketCounts]] kernel: no explode, no (doc, bucket)
    // aggregation, no doc-keyed join back — 100 TB of text streams
    // through one projection. Value identity vs the old sparse
    // sum(n·w): every addend the old agg saw appears here (absent
    // buckets add n·w = ±0.0, the old missing-weight rows added
    // n·coalesce(null, 0.0) = +0.0); the operator's exactness contract
    // (integer/dyadic weights) makes the reassociation value-free, and
    // the trailing `+ bias` normalizes a -0.0 sum exactly as before.
    val wArr = new Array[Double](numBuckets)
    weights.select(col("bucket").cast("int").as("b"),
        col("weight").cast("double").as("w"))
      .collect().foreach { r =>
        require(!r.isNullAt(0) && r.getInt(0) >= 0 &&
          r.getInt(0) < numBuckets,
          s"model bucket out of [0, $numBuckets): ${r.get(0)}")
        wArr(r.getInt(0)) = r.getDouble(1)
      }
    val cnts = graft.functions.HashExpressions.hashBucketCounts(
      wsTokens(lower(col(textCol))), numBuckets)
    val dot = graft.functions.VectorExpressions.dotProduct(
      col("_c").cast("array<double>"), typedlit(wArr.toVector))
    docs.select(col(idCol),
        when(col(textCol).isNotNull, cnts).as("_c"))
      .select(col(idCol),
        (coalesce(when(col("_c").isNotNull, dot), lit(0.0)) + bias)
          .as("logit"))
      .withColumn("label", (col("logit") > 0).cast("int"))
      .withColumn("prob", lit(1.0) / (lit(1.0) + exp(-col("logit"))))
  }

  /** MULTI-CLASS linear inference — [[scoreLinearModel]] generalized to
    * K labels (the real routing shape: language ID over ~100 labels,
    * topic/quality multi-class): `weights` is (label, bucket, weight)
    * rows; per doc and label, logit = Σ_buckets count·weight, and the
    * predicted label is the deterministic argmax
    * (logit DESC, label ASC — float ties cannot flip the router).
    * Output: one row per (doc, label) with the UNROUNDED logit and a
    * `pred` flag on the argmax row — per the q148/q156 rule, ln/softmax
    * stay caller-side (the one non-portable step), and integer-valued
    * weights make every logit exact cross-engine.
    *
    * Scale: the model is |labels|·numBuckets rows — broadcast; scoring
    * is the [[hashFeatures]] partial-agg plus one (doc, label) keyed
    * aggregation and one doc-keyed rank window. Docs with no hashable
    * tokens still score (logit = 0 for every label, argmax = first
    * label) via the label-set cross join — |docs|·K rows, K
    * catalog-sized. */
  def scoreMultiClassModel(docs: DataFrame, weights: DataFrame,
                           numBuckets: Int = 64,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = weights.select("label").distinct()
    val dot = hashFeatures(docs, numBuckets, idCol, textCol)
      .join(broadcast(weights), Seq("bucket"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("n") * col("weight")).as("_dot"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("logit").desc, col("label"))
    docs.select(col(idCol))
      .crossJoin(broadcast(labels))
      .join(dot, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        coalesce(col("_dot"), lit(0.0)).as("logit"))
      .withColumn("pred", (row_number().over(w) === 1).cast("int"))
  }

  /** NAIVE BAYES INFERENCE — the router half of [[naiveBayesTrain]]
    * (whose q156 output frame is this function's `model` input,
    * verbatim): per doc and label, the multinomial log-likelihood
    * Σ_tokens n·ln(P(token|label)) with unseen (token, label) pairs
    * taking the add-one floor 1/(label_tokens + vocab) the training
    * smoothing implies, plus an optional per-label ln-prior; predicted
    * label = deterministic argmax (loglik DESC, label ASC). This is the
    * trained multi-class router that replaces heuristic
    * [[langIdEn]]-style gating once labeled data exists ([[graft
    * .pipeline.Pipelines.curate]]'s `langModel` knob); `ln` keeps it
    * spec-gated rather than oracle-gated, the q148/q156 rule.
    *
    * Scale: token hits join on the token domain (model is vocab·K rows
    * — broadcast below ~10⁷, else a token-keyed shuffle join); the
    * unseen-token mass folds in CLOSED FORM — loglik = hit_ll +
    * (n_doc_tokens − hit_n)·ln(floor_label) — so the (doc, label)
    * fan-out is |docs|·K rows, never |doc tokens|·K. */
  def nbClassify(docs: DataFrame, model: DataFrame,
                 priors: Option[DataFrame] = None,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-label smoothing floor from the model's own columns
    val labelInfo = model.groupBy("label")
      .agg((lit(1.0) / (first(col("label_tokens")) + first(col("vocab"))))
        .as("_floor"))
    val pri = priors.getOrElse(
      labelInfo.select(col("label"), lit(0.0).as("ln_prior")))
    val tc = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(
        filter(wsTokens(lower(col(textCol))), t => length(t) > 0))
        .as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("n_tok"))
    val hits = tc
      .join(model.select("label", "token", "smoothed_prob"), Seq("token"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("n_tok") * log(col("smoothed_prob"))).as("hit_ll"),
        sum(col("n_tok")).as("hit_n"))
    val docTot = tc.groupBy(col(idCol))
      .agg(sum(col("n_tok")).as("n_d"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("loglik").desc, col("label"))
    docTot
      .crossJoin(broadcast(labelInfo))
      .join(broadcast(pri), Seq("label"))
      .join(hits, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        (coalesce(col("hit_ll"), lit(0.0)) +
          (col("n_d") - coalesce(col("hit_n"), lit(0L))) *
            log(col("_floor")) +
          col("ln_prior")).as("loglik"))
      .withColumn("pred", (row_number().over(w) === 1).cast("int"))
  }

  /** Per-document blocklist exposure: count and fraction of whitespace
    * tokens that appear in `blockWords` (LDNOOBW-style unsafe-word
    * screening — the interpretable complement of a trained toxicity
    * model). Map-only: the list rides the plan as an IN-list literal, the
    * fraction is an unrounded exact-integer quotient (engine-portable).
    * Returns the input plus (n_tokens, n_flagged, flagged_fraction). */
  def blocklistStats(docs: DataFrame, blockWords: Seq[String],
                     textCol: String = "text"): DataFrame = {
    require(blockWords.nonEmpty, "blocklist must not be empty")
    val words = blockWords.map(_.toLowerCase).distinct
    val toks = filter(wsTokens(lower(col(textCol))), t => length(t) > 0)
    val flagged = filter(toks, t => t.isin(words: _*))
    docs.withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_flagged", size(flagged).cast("long"))
      .withColumn("flagged_fraction",
        when(col("n_tokens") > 0,
          col("n_flagged").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)))
  }

  /** Column form of [[blocklistStats]]'s fraction (the SQL surface's
    * `blocklist_fraction`): flagged/total over non-empty whitespace
    * tokens, 0.0 for token-less text. */
  def blocklistFraction(text: Column, blockWords: Seq[String]): Column = {
    require(blockWords.nonEmpty, "blocklist must not be empty")
    val words = blockWords.map(_.toLowerCase).distinct
    val toks = filter(wsTokens(lower(text)), t => length(t) > 0)
    val flagged = filter(toks, t => t.isin(words: _*))
    when(size(toks) > 0, size(flagged).cast("double") / size(toks))
      .otherwise(lit(0.0))
  }

  /** The gate form of [[blocklistStats]]: keep documents whose flagged
    * fraction is at most `maxFraction` (0.0 = zero tolerance). */
  def blocklistGate(docs: DataFrame, blockWords: Seq[String],
                    maxFraction: Double = 0.0,
                    textCol: String = "text"): DataFrame = {
    require(maxFraction >= 0.0 && maxFraction <= 1.0,
      s"maxFraction must be in [0,1], got $maxFraction")
    blocklistStats(docs, blockWords, textCol)
      .filter(col("flagged_fraction") <= maxFraction)
  }

  /** Outlink (href) extraction from markup — the crawl-frontier /
    * link-graph primitive between [[htmlExtract]]'s prose path and the
    * URL curation stage: every `href="..."`/`href='...'` value in
    * document order, case-insensitive attribute, tag-agnostic (anchors,
    * link rel, area). Map-side `regexp_extract_all`; compose with
    * `explode` + [[graft.text.UrlOps.registeredDomain]] for the
    * out-domain graph. The pattern lives in the Java-regex ∩ RE2 subset
    * so SQL engines replay it verbatim. */
  def extractLinks(html: Column): Column =
    regexp_extract_all(coalesce(html, lit("")),
      lit("(?i)href\\s*=\\s*[\"']([^\"'<>]+)[\"']"), lit(1))

  /** PAGE METADATA extraction — the head-of-document fields crawl
    * curation keys on before (or instead of) reading the body:
    * `<title>`, the canonical link (the dedup key crawlers trust over
    * the fetch URL — mirrors and tracking-param variants declare one
    * canonical), the meta description, and the OpenGraph title. One
    * STRUCT per row, all map-side `regexp_extract` in the Java∩RE2
    * subset (attribute order tolerated for the canonical/og forms via
    * two-pattern fallbacks; fields absent → empty string, the
    * [[robotsMeta]] convention). Compose `canonical` into the exact-
    * dedup digest to collapse mirror URLs before content hashing. */
  def htmlMeta(html: Column): Column = {
    val h = coalesce(html, lit(""))
    def ex(pat: String): Column = regexp_extract(h, pat, 1)
    def first(a: Column, b: Column): Column = when(a =!= "", a).otherwise(b)
    struct(
      // whitespace-trim, not trim(): titles wrap across lines and both
      // engines' trim() strips spaces only
      regexp_replace(ex("(?is)<title[^>]*>([^<]*)</title>"),
        "^\\s+|\\s+$", "").as("title"),
      first(
        ex("(?is)<link[^>]*rel=[\"']canonical[\"'][^>]*href=[\"']([^\"'<>]+)[\"']"),
        ex("(?is)<link[^>]*href=[\"']([^\"'<>]+)[\"'][^>]*rel=[\"']canonical[\"']"))
        .as("canonical"),
      first(
        ex("(?is)<meta[^>]*name=[\"']description[\"'][^>]*content=[\"']([^\"'<>]*)[\"']"),
        ex("(?is)<meta[^>]*content=[\"']([^\"'<>]*)[\"'][^>]*name=[\"']description[\"']"))
        .as("description"),
      first(
        ex("(?is)<meta[^>]*property=[\"']og:title[\"'][^>]*content=[\"']([^\"'<>]*)[\"']"),
        ex("(?is)<meta[^>]*content=[\"']([^\"'<>]*)[\"'][^>]*property=[\"']og:title[\"']"))
        .as("og_title"))
  }

  /** Robots META directives from markup — the in-page half of the
    * robots.txt gate ([[graft.text.UrlOps.dropDisallowed]]): 1 if any
    * `<meta name="robots" ...>` content carries the directive
    * (`noindex` / `nofollow`), attribute order and quoting tolerated,
    * case-insensitive. A compliant corpus drops noindex pages before
    * training, exactly as crawlers drop them from serving. Map-only
    * regex in the RE2 ∩ Java subset. */
  def robotsMeta(html: Column): Column = {
    val h = coalesce(html, lit(""))
    // the content attribute of any robots meta tag (either attribute
    // order), lowercased for directive matching
    val content = lower(concat_ws(" ",
      regexp_extract(h,
        "(?is)<meta[^>]*name\\s*=\\s*[\"']robots[\"'][^>]*" +
          "content\\s*=\\s*[\"']([^\"']*)[\"']", 1),
      regexp_extract(h,
        "(?is)<meta[^>]*content\\s*=\\s*[\"']([^\"']*)[\"'][^>]*" +
          "name\\s*=\\s*[\"']robots[\"']", 1)))
    struct(
      content.rlike("\\bnoindex\\b").cast("int").as("noindex"),
      content.rlike("\\bnofollow\\b").cast("int").as("nofollow"))
  }

  /** The page's `<link rel="canonical" href=...>` target (either
    * attribute order), NULL when absent — the duplicate-URL collapse
    * signal crawl dedup honors before any content hashing: mirrors and
    * tracking-parameter variants declare their canonical form
    * themselves. Map-only regex; compose with
    * [[graft.text.UrlOps.normalizeUrl]]. */
  def canonicalUrl(html: Column): Column = {
    val h = coalesce(html, lit(""))
    val c1 = regexp_extract(h,
      "(?is)<link[^>]*rel\\s*=\\s*[\"']canonical[\"'][^>]*" +
        "href\\s*=\\s*[\"']([^\"']+)[\"']", 1)
    val c2 = regexp_extract(h,
      "(?is)<link[^>]*href\\s*=\\s*[\"']([^\"']+)[\"'][^>]*" +
        "rel\\s*=\\s*[\"']canonical[\"']", 1)
    when(c1 =!= "", c1).when(c2 =!= "", c2)
  }

  /** One statistic pass of a BPE tokenizer trainer: corpus-wide counts
    * of adjacent character pairs WITHIN whitespace words (the argmax pair
    * is the next merge), top `k` by (count DESC, pair ASC). Pure
    * explode → map-side-combined count: the classic map-reduce the
    * trainer iterates, linear in corpus characters, no joins. */
  def bpePairCounts(docs: DataFrame, k: Int = 50,
                    textCol: String = "text"): DataFrame = {
    require(k > 0, "k must be positive")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(explode(wsTokens(lower(col(textCol)))).as("t"))
      .filter(length(col("t")) > 1)
    toks
      .select(explode(expr(
        "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** Inverted-index build: one row per vocabulary term with document
    * frequency and the doc-id posting list (ascending, comma-joined —
    * portable across engines without array-repr pitfalls). Posting lists
    * are capped at `maxPostings` ids with a `truncated` flag — stop-word
    * class terms would otherwise materialize corpus-length rows (the
    * posting-list skew every IR system bounds). `minDf` prunes hapax
    * noise. Cost: one distinct (term, doc) aggregation + one term-keyed
    * agg — the token domain shuffles, never document payloads. */
  def invertedIndex(docs: DataFrame, minDf: Long = 1,
                    maxPostings: Int = 1000, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(minDf >= 1, "minDf must be at least 1")
    require(maxPostings >= 1, "maxPostings must be at least 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy(col(idCol))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(wsTokens(lower(col(textCol))))
        .as("term"))
      .filter(length(col("term")) > 0)
      .distinct()
      // cap BEFORE collecting: collect_list skips the nulled-out tail,
      // so a stop-word term aggregates maxPostings ids, never a
      // corpus-length array (WindowGroupLimit prunes the rank rows)
      .withColumn("_rn", row_number().over(w))
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(
          when(col("_rn") <= maxPostings, col(idCol)))).as("_post"))
      .filter(col("df") >= minDf)
      .select(col("term"), col("df"),
        array_join(transform(col("_post"), _.cast("string")), ",")
          .as("postings"),
        (col("df") > maxPostings).cast("int").as("truncated"))
  }

  /** Heuristic license tagging for crawled/code corpora (The-Stack-style
    * license filtering): first matching license phrase wins, `unknown`
    * when nothing matches. Pure map-side regex chain — the license gate
    * runs in the same scan as the other stage-1 text rules. Match order
    * is most-specific-first so an Apache header containing the word
    * "license" can't fall through to a weaker class. */
  def detectLicense(text: Column): Column = {
    val t = lower(coalesce(text, lit("")))
    when(t.rlike("apache license"), "apache-2.0")
      .when(t.rlike("mit license"), "mit")
      .when(t.rlike("creative commons|cc-by"), "cc-by")
      .when(t.rlike("gnu (general|lesser general|affero general) public license|\\bgpl"),
        "gpl")
      .when(t.rlike("all rights reserved"), "proprietary")
      .otherwise("unknown")
  }

  /** BPE ENCODING — the application half of the tokenizer whose training
    * statistic is [[bpePairCounts]]: given an ordered merge list (rank
    * order, the trainer's output), encode one word into its subword
    * tokens. Semantics are the standard sequential form: the word starts
    * as its character sequence, then each merge `(a, b)` rewrites every
    * greedy left-to-right occurrence of the ADJACENT SYMBOL pair into
    * the merged symbol before the next merge applies — the whole
    * encoder is a FOLD of [[mergeAdjacentPair]] calls (boundary-aware;
    * a bare substring replace would cross symbol boundaries): pure
    * column expressions, codegen'd, map-only, and replayable verbatim
    * by any engine's non-regex `replace`. Returns the space-separated
    * symbol string (split on ' ' for the token array).
    *
    * Merge symbols must not themselves contain spaces; the character
    * split is per UTF-16-BMP character (`substring` semantics — shared
    * with [[bpePairCounts]]). Cost: |merges| chained string rewrites on
    * a word-length string — linear in corpus characters, no shuffle. */
  def bpeEncodeWord(word: Column, merges: Seq[(String, String)]): Column = {
    require(merges.nonEmpty, "merge list must not be empty")
    require(merges.forall { case (a, b) =>
      !a.contains(" ") && !b.contains(" ") && a.nonEmpty && b.nonEmpty },
      "merge symbols must be non-empty and space-free")
    // "abc" -> "a b c": one space after every char, then drop the tail
    val spaced = rtrim(regexp_replace(coalesce(word, lit("")),
      "(.)", "$1 "))
    merges.foldLeft(spaced) { case (acc, (a, b)) =>
      mergeAdjacentPair(acc, a, b)
    }
  }

  /** Boundary-aware adjacent-symbol merge on a space-separated symbol
    * string — rewrites every greedy left-to-right occurrence of the
    * ADJACENT SYMBOL pair `(l, r)` into `l+r`, and nothing else. A bare
    * `replace(s, "l r", "lr")` is wrong twice once multi-char symbols
    * exist: it matches across symbol boundaries (merging (x, a)
    * rewrites "yx ab" to "yxab"), and in an adjacency run it misses
    * every other occurrence because the shared separator space is
    * consumed. The fix is an encoding trick: double every separator
    * and pad the ends, so symbol boundaries become unambiguous
    * (" l  r " can only match whole symbols) and disjoint matches no
    * longer share a space — in a run `a a a a` the pattern consumes one
    * of the two separator spaces, leaving the other as the next
    * match's lead, so ONE replace pass IS the greedy left-to-right
    * scan (pairs (1,2),(3,4), odd tail untouched — Sennrich BPE).
    * Collapse the leftover runs of spaces and trim to return to the
    * canonical form. All non-regex ops but the final collapse, still
    * map-only/codegen'd; any engine replays it verbatim. */
  def mergeAdjacentPair(s: Column, l: String, r: String): Column =
    trim(regexp_replace(
      replace(
        concat(lit(" "), replace(s, lit(" "), lit("  ")), lit(" ")),
        lit(" " + l + "  " + r + " "), lit(" " + l + r + " ")),
      " {2,}", " "))

  /** Document form of [[bpeEncodeWord]]: every whitespace word of the
    * lowercased text encoded independently, returned as an array of
    * per-word symbol strings (one entry per word, symbols space-
    * separated within the entry). Map-only transform — the merge list
    * rides the plan as literals, the corpus never shuffles. */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    transform(
      filter(wsTokens(lower(coalesce(text, lit("")))),
        t => length(t) > 0),
      w => bpeEncodeWord(w, merges))

  /** Broadcast a merge table for the kernel encode path — build once,
    * reuse across every [[bpeEncodeWordKernel]]/[[bpeEncodeKernel]] call
    * in the job (one torrent-broadcast ship per executor). */
  def bpeMergesBroadcast(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String)])
      : org.apache.spark.broadcast.Broadcast[
        graft.functions.BpeEncodeWord.Merges] =
    spark.sparkContext.broadcast(
      graft.functions.BpeEncodeWord.build(merges))

  /** Kernel form of [[bpeEncodeWord]] — identical tokens (parity-gated
    * by OpsSpec at every merge-list prefix), but the merge table rides a
    * BROADCAST instead of plan literals, so the plan is O(1) in |merges|
    * and a production 32k-64k-merge tokenizer table is usable: the
    * literal fold chains one replace node per merge and hits analysis/
    * codegen limits around a few hundred. NULL words encode as "" (the
    * literal path's coalesce contract). */
  def bpeEncodeWordKernel(word: Column,
      bc: org.apache.spark.broadcast.Broadcast[
        graft.functions.BpeEncodeWord.Merges]): Column =
    graft.functions.VectorExpressions.bpeEncodeWord(
      coalesce(word, lit("")), bc)

  /** Document form of [[bpeEncodeWordKernel]] — the [[bpeEncode]] shape
    * on the broadcast-kernel path. Map-only; the corpus never shuffles
    * and the plan carries only the broadcast handle. */
  def bpeEncodeKernel(text: Column,
      bc: org.apache.spark.broadcast.Broadcast[
        graft.functions.BpeEncodeWord.Merges]): Column =
    transform(
      filter(wsTokens(lower(coalesce(text, lit("")))),
        t => length(t) > 0),
      w => bpeEncodeWordKernel(w, bc))

  /** Broadcast a (symbol → token id) vocabulary for
    * [[bpeEncodeIdsKernel]] — the id half of tokenizer application
    * (`tokenizer.json`'s `model.vocab`; a 32k-50k-entry plan-literal
    * map would hit the same plan-size ceiling the merge table did). */
  def bpeVocabBroadcast(spark: org.apache.spark.sql.SparkSession,
      vocab: Seq[(String, Int)])
      : org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, Integer]] = {
    require(vocab.nonEmpty, "vocab must not be empty")
    val m = new java.util.HashMap[String, Integer](vocab.size * 2)
    vocab.foreach { case (s2, id) => m.put(s2, Integer.valueOf(id)) }
    spark.sparkContext.broadcast(m)
  }

  /** TOKEN IDS per document — the complete tokenizer application:
    * [[bpeEncodeKernel]]'s per-word symbol strings mapped through the
    * broadcast vocab ([[graft.functions.VocabIds]]) and flattened to
    * the document's id sequence, exactly what a training-data writer
    * materializes. Map-only; both tables ride broadcasts; symbols
    * missing from the vocab map to -1 (a merges/vocab mismatch signal —
    * real tokenizers byte-fallback upstream of this point). */
  def bpeEncodeIdsKernel(text: Column,
      bcMerges: org.apache.spark.broadcast.Broadcast[
        graft.functions.BpeEncodeWord.Merges],
      bcVocab: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, Integer]]): Column =
    flatten(transform(
      filter(wsTokens(lower(coalesce(text, lit("")))),
        t => length(t) > 0),
      w => graft.functions.VectorExpressions.vocabIds(
        graft.functions.VectorExpressions.bpeEncodeWord(w, bcMerges),
        bcVocab)))

  /** BPE TOKEN COUNT per document — the budget statistic every mixing /
    * pricing / packing decision needs at the REAL tokenizer's
    * granularity (the whitespace and regex proxies under- and over-
    * count by 2-4x on code and CJK): Σ over words of the encoded
    * symbol count. Map-only, merge table on the broadcast kernel. */
  def bpeTokenCount(text: Column,
      bcMerges: org.apache.spark.broadcast.Broadcast[
        graft.functions.BpeEncodeWord.Merges]): Column =
    aggregate(
      transform(
        filter(wsTokens(lower(coalesce(text, lit("")))),
          t => length(t) > 0),
        w => size(split(graft.functions.VectorExpressions
          .bpeEncodeWord(w, bcMerges), " ")).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Size-dispatched BPE encode: small merge lists stay on the literal
    * fold (zero broadcast overhead, replayable verbatim by any engine's
    * `replace` — the oracle-portability mode), big ones move to the
    * broadcast kernel before the plan-size ceiling bites. The two paths
    * are token-identical (parity spec); `literalMax` marks where plan
    * growth starts to cost more than a broadcast ship. */
  def bpeEncodeAuto(spark: org.apache.spark.sql.SparkSession,
      text: Column, merges: Seq[(String, String)],
      literalMax: Int = 64): Column =
    if (merges.size <= literalMax) bpeEncode(text, merges)
    else bpeEncodeKernel(text, bpeMergesBroadcast(spark, merges))

  /** The GPT-2 pre-tokenization split — the public regex every
    * byte-level BPE tokenizer applies before merging (GPT-2 encoder,
    * RoBERTa, CLIP; tokenizers' ByteLevel): contractions, then
    * optional-leading-space letter/digit/punctuation runs, then
    * whitespace runs where the LAST space of an inter-word run
    * attaches to the following word (the `\s+(?!\S)` lookahead).
    * `(?U)` makes `\s` Unicode-whitespace like the reference Python
    * `regex` engine; Java regex supports the lookahead natively so
    * the pattern ships verbatim. Matches tile the string (every char
    * falls in some alternative), so extract-all IS the tokenization.
    * CASE IS PRESERVED — byte-level tables are case-sensitive; the
    * whitespace path's `lower()` belongs to that family only. */
  val gpt2SplitRegex: String =
    "(?U)'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+" +
      "| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+"

  /** GPT-2 pre-tokens of `text` (array of strings, case preserved,
    * leading spaces attached — see [[gpt2SplitRegex]]). Map-only. */
  def gpt2PreTokens(text: Column): Column =
    regexp_extract_all(coalesce(text, lit("")), lit(gpt2SplitRegex),
      lit(0))

  /** BYTE-LEVEL BPE encode — the GPT-2/RoBERTa/CLIP family's real
    * semantics, closing the gap between parsing their merge files
    * ([[TokenizerFiles]]) and reproducing their token stream:
    * [[gpt2PreTokens]] splits (case preserved, spaces attached), each
    * pre-token's UTF-8 bytes map through the public bytes_to_unicode
    * alphabet ([[graft.functions.Gpt2Bytes]] — a leading space becomes
    * `Ġ`, exactly the form the shipped merge tables are written in),
    * and the broadcast merge kernel folds as usual. Returns one
    * space-separated symbol string per pre-token. Map-only; the plan
    * carries only the broadcast handle, O(1) in |merges|.
    *
    * Merge application is the rank-order fold ([[bpeEncodeWordKernel]]
    * — each rule once, ascending rank). On a TRAINED table this equals
    * the reference encoder's repeated min-rank-pair loop: a merge's
    * output symbol cannot appear in any LOWER-rank rule (that rule was
    * learned before the symbol existed), so no applied merge ever
    * re-enables an earlier rank. */
  def bpeEncodeByteLevel(text: Column,
      bc: org.apache.spark.broadcast.Broadcast[
        graft.functions.BpeEncodeWord.Merges]): Column =
    transform(gpt2PreTokens(text),
      t => bpeEncodeWordKernel(
        graft.functions.VectorExpressions.gpt2Bytes(t), bc))

  /** TOKEN IDS under byte-level semantics — [[bpeEncodeByteLevel]]'s
    * symbols through the broadcast vocab, flattened to the document's
    * id sequence: pointing this at a real GPT-2-style merges+vocab
    * pair reproduces the tokenizer's own ids (leading-`Ġ` forms, case
    * preserved). Symbols absent from the vocab map to -1, the
    * merges/vocab mismatch flag ([[bpeEncodeIdsKernel]] convention). */
  def bpeEncodeIdsByteLevel(text: Column,
      bcMerges: org.apache.spark.broadcast.Broadcast[
        graft.functions.BpeEncodeWord.Merges],
      bcVocab: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, Integer]]): Column =
    flatten(transform(gpt2PreTokens(text),
      t => graft.functions.VectorExpressions.vocabIds(
        bpeEncodeWordKernel(
          graft.functions.VectorExpressions.gpt2Bytes(t), bcMerges),
        bcVocab)))

  /** BPE token budget under byte-level semantics — Σ over pre-tokens
    * of encoded symbol counts ([[bpeTokenCount]]'s byte-level form). */
  def bpeTokenCountByteLevel(text: Column,
      bcMerges: org.apache.spark.broadcast.Broadcast[
        graft.functions.BpeEncodeWord.Merges]): Column =
    aggregate(
      transform(gpt2PreTokens(text),
        t => size(split(bpeEncodeWordKernel(
          graft.functions.VectorExpressions.gpt2Bytes(t), bcMerges),
          " ")).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** METASPACE pre-tokens of `text` — the SentencePiece convention the
    * Llama/T5/Mistral tokenizer family ships (HF tokenizers'
    * `Metaspace` pre-tokenizer): every space becomes the replacement
    * character (`▁`, U+2581, by default), the text optionally gains a
    * leading replacement (`prepend` — `always`/`first` prepend when
    * the text does not already start with one; `never` leaves the
    * first word bare), and the result splits BEFORE each replacement
    * (the MergedWithNext behavior: each piece carries its leading
    * `▁`). "Hello world" under `always` → `["▁Hello", "▁world"]`;
    * under `never` → `["Hello", "▁world"]`. CASE IS PRESERVED —
    * SentencePiece tables are case-sensitive, like the byte-level
    * family and unlike the lowercased whitespace path. For a single
    * text column `first` equals `always` (one section; they diverge
    * only when a special-token splitter yields multiple sections
    * upstream). Map-only; tiles the string exactly (the two regex
    * alternatives cover every character). */
  def metaspacePreTokens(text: Column, replacement: String = "▁",
      prepend: String = "always"): Column = {
    require(replacement.length == 1 && !replacement.contains(" "),
      s"metaspace replacement must be one non-space char, " +
        s"got '$replacement'")
    require(Set("always", "first", "never").contains(prepend),
      s"prepend_scheme must be always/first/never, got '$prepend'")
    val r = java.util.regex.Pattern.quote(replacement)
    val cls = if ("^]\\-&[".contains(replacement)) "\\" + replacement
      else replacement
    val norm0 = replace(coalesce(text, lit("")), lit(" "),
      lit(replacement))
    val norm = if (prepend == "never") norm0
      else when(length(norm0) === 0, norm0)
        .when(norm0.startsWith(replacement), norm0)
        .otherwise(concat(lit(replacement), norm0))
    regexp_extract_all(norm, lit(s"$r[^$cls]*|[^$cls]+"), lit(0))
  }

  /** BPE encode under METASPACE semantics — the Llama/Mistral family's
    * real pre-tokenization: [[metaspacePreTokens]] splits (case
    * preserved, each word carrying its `▁`), the broadcast merge
    * kernel folds each piece character-initial exactly as SentencePiece
    * BPE does (`▁` is an ordinary character of the merge alphabet, the
    * form shipped tables are written in). One space-separated symbol
    * string per pre-token; map-only, O(1) plan in |merges|. */
  def bpeEncodeMetaspace(text: Column,
      bc: org.apache.spark.broadcast.Broadcast[
        graft.functions.BpeEncodeWord.Merges],
      replacement: String = "▁",
      prepend: String = "always"): Column =
    transform(metaspacePreTokens(text, replacement, prepend),
      w => bpeEncodeWordKernel(w, bc))

  /** TOKEN IDS under metaspace semantics — [[bpeEncodeMetaspace]]'s
    * symbols through the broadcast vocab, flattened to the document's
    * id sequence (symbols absent from the vocab map to -1, the
    * merges/vocab mismatch flag — real SentencePiece stacks
    * byte-fallback upstream of this point). */
  def bpeEncodeIdsMetaspace(text: Column,
      bcMerges: org.apache.spark.broadcast.Broadcast[
        graft.functions.BpeEncodeWord.Merges],
      bcVocab: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, Integer]],
      replacement: String = "▁",
      prepend: String = "always"): Column =
    flatten(transform(metaspacePreTokens(text, replacement, prepend),
      t => graft.functions.VectorExpressions.vocabIds(
        bpeEncodeWordKernel(t, bcMerges), bcVocab)))

  /** BPE token budget under metaspace semantics — Σ over pre-tokens of
    * encoded symbol counts ([[bpeTokenCount]]'s metaspace form). */
  def bpeTokenCountMetaspace(text: Column,
      bcMerges: org.apache.spark.broadcast.Broadcast[
        graft.functions.BpeEncodeWord.Merges],
      replacement: String = "▁",
      prepend: String = "always"): Column =
    aggregate(
      transform(metaspacePreTokens(text, replacement, prepend),
        t => size(split(bpeEncodeWordKernel(t, bcMerges), " "))
          .cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Pre-tokenizer dispatch — encode `text` under the semantics the
    * tokenizer file DECLARES ([[TokenizerFiles.readPreTokenizerKind]]
    * reads `pre_tokenizer` out of a tokenizer.json; merges.txt implies
    * the GPT-2 byte-level family): `byte_level` routes to
    * [[bpeEncodeByteLevel]], `metaspace` to the SentencePiece-style
    * [[bpeEncodeMetaspace]] (default `▁`/`always` — pass a
    * [[TokenizerFiles.readMetaspaceConfig]] result for the file's own
    * declarations), `whitespace` to the lowercased whitespace-split
    * [[bpeEncodeKernel]]. */
  def bpeEncodeDispatch(kind: String, text: Column,
      bc: org.apache.spark.broadcast.Broadcast[
        graft.functions.BpeEncodeWord.Merges]): Column = kind match {
    case "byte_level" => bpeEncodeByteLevel(text, bc)
    case "metaspace" => bpeEncodeMetaspace(text, bc)
    case "whitespace" => bpeEncodeKernel(text, bc)
    case other => throw new IllegalArgumentException(
      s"unknown pre-tokenizer kind '$other' " +
        "(expected byte_level, metaspace, or whitespace)")
  }

  /** Broadcast the INVERSE vocabulary (id → symbol) for
    * [[bpeDecodeIdsByteLevel]] — the detokenizer's lookup side.
    * Duplicate ids are rejected (an ambiguous inverse cannot decode). */
  def bpeVocabInverseBroadcast(spark: org.apache.spark.sql.SparkSession,
      vocab: Seq[(String, Int)])
      : org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[Integer, String]] = {
    require(vocab.nonEmpty, "vocab must not be empty")
    val m = new java.util.HashMap[Integer, String](vocab.size * 2)
    vocab.foreach { case (s2, id) =>
      val prev = m.put(Integer.valueOf(id), s2)
      require(prev == null,
        s"duplicate id $id ('$prev' and '$s2') — inverse is ambiguous")
    }
    spark.sparkContext.broadcast(m)
  }

  /** DETOKENIZE under byte-level semantics — the full inverse of
    * [[bpeEncodeIdsByteLevel]]: ids → symbols (broadcast inverse
    * vocab, [[graft.functions.VocabSymbols]] — unknown ids fail
    * descriptively) concatenated, then the byte-form alphabet mapped
    * back ([[graft.functions.Gpt2BytesDecode]] — `Ġ` becomes the
    * space again). Byte-level tokenization is LOSSLESS, so
    * decode(encode(text)) == text exactly — the q298 round-trip gate.
    * (The whitespace family lowercases and drops word boundaries from
    * its flattened ids; it has no faithful decoder by design.) */
  def bpeDecodeIdsByteLevel(ids: Column,
      bcInv: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[Integer, String]]): Column =
    graft.functions.VectorExpressions.gpt2BytesDecode(
      graft.functions.VectorExpressions.vocabSymbols(ids, bcInv))

  /** DETOKENIZE under METASPACE semantics — the inverse of
    * [[bpeEncodeIdsMetaspace]], completing the decode pair beside
    * [[bpeDecodeIdsByteLevel]]: ids → symbols (broadcast inverse
    * vocab, unknown ids fail descriptively) concatenated, every
    * `replacement` char mapped back to a space, and the ONE leading
    * space the `always`/`first` prepend scheme planted stripped
    * (`never` plants none, so nothing strips). Metaspace
    * tokenization preserves case and interior spacing (`▁▁` decodes
    * to a double space), so decode(encode(text)) == text for any
    * text without a literal replacement char and without leading
    * whitespace — the q345 round-trip gate. (The whitespace family
    * still has no faithful decoder by design — it lowercases and
    * drops boundaries.) */
  def bpeDecodeIdsMetaspace(ids: Column,
      bcInv: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[Integer, String]],
      replacement: String = "▁",
      prepend: String = "always"): Column = {
    require(replacement.length == 1 && !replacement.contains(" "),
      s"metaspace replacement must be one non-space char, " +
        s"got '$replacement'")
    require(Set("always", "first", "never").contains(prepend),
      s"prepend_scheme must be always/first/never, got '$prepend'")
    val spaced = replace(
      graft.functions.VectorExpressions.vocabSymbols(ids, bcInv),
      lit(replacement), lit(" "))
    if (prepend == "never") spaced
    else regexp_replace(spaced, "^ ", "")
  }

  /** DECODE a WordPiece piece string back to its word — the
    * `convert_tokens_to_string` convention: `##` continuations glue
    * onto their head, so a fully-covered word reconstructs EXACTLY
    * (greedy matching partitions the word — concatenation is the
    * word itself) and an unk collapse stays `[UNK]` (the information
    * was destroyed at encode time; decode is honest about it).
    * Completes the decode trio beside [[bpeDecodeIdsByteLevel]] and
    * [[bpeDecodeIdsMetaspace]] — though unlike those two this family
    * is lossy BY DESIGN (case folded, punctuation split): faithful
    * only at the word level q348 pins. Map-only column expression. */
  def wordpieceDecodeWord(encoded: Column): Column =
    replace(encoded, lit(" ##"), lit(""))

  /** Document form of [[wordpieceDecodeWord]] — the per-word piece
    * strings of [[wordpieceEncode]] decoded and re-joined with single
    * spaces (the BERT basic-token boundary; original inter-word
    * whitespace and punctuation adjacency are already gone). */
  def wordpieceDecode(encoded: Column): Column =
    array_join(transform(encoded, w => wordpieceDecodeWord(w)), " ")

  /** Id-sequence form of [[bpeEncodeDispatch]]. */
  def bpeEncodeIdsDispatch(kind: String, text: Column,
      bcMerges: org.apache.spark.broadcast.Broadcast[
        graft.functions.BpeEncodeWord.Merges],
      bcVocab: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[String, Integer]]): Column = kind match {
    case "byte_level" => bpeEncodeIdsByteLevel(text, bcMerges, bcVocab)
    case "metaspace" => bpeEncodeIdsMetaspace(text, bcMerges, bcVocab)
    case "whitespace" => bpeEncodeIdsKernel(text, bcMerges, bcVocab)
    case other => throw new IllegalArgumentException(
      s"unknown pre-tokenizer kind '$other' " +
        "(expected byte_level, metaspace, or whitespace)")
  }

  /** The BERT basic-tokenizer padding class — every character the
    * reference splits into its OWN token: Unicode punctuation plus the
    * ASCII symbols `_is_punctuation` adds by code range ($ + < = > ^
    * ` | ~), plus the CJK ideograph ranges `tokenize_chinese_chars`
    * isolates. One regex class, shared verbatim with the oracle (RE2
    * and java.util.regex read it identically). */
  val wordpieceBasicPattern: String =
    "([\\p{P}$+<=>^`|~" +
      "\\x{4e00}-\\x{9fff}\\x{3400}-\\x{4dbf}\\x{20000}-\\x{2a6df}" +
      "\\x{2a700}-\\x{2b73f}\\x{2b740}-\\x{2b81f}\\x{2b820}-\\x{2ceaf}" +
      "\\x{f900}-\\x{faff}\\x{2f800}-\\x{2fa1f}])"

  /** BERT basic tokenization — the pre-tokenizer in front of
    * [[wordpieceEncode]]: optionally lowercase, pad every
    * [[wordpieceBasicPattern]] character with spaces (punctuation and
    * CJK ideographs become single-char tokens), whitespace-split, drop
    * empties. Pure column expressions, map-only. Uncased BERT's accent
    * stripping (NFD + Mn removal) is deliberately out of scope — the
    * engine's normalization ops document the same boundary. */
  def wordpieceBasicTokens(text: Column,
      lowercase: Boolean = true): Column = {
    val t0 = coalesce(text, lit(""))
    val lc = if (lowercase) lower(t0) else t0
    filter(split(regexp_replace(lc, wordpieceBasicPattern, " $1 "),
        "\\s+"),
      t => length(t) > 0)
  }

  /** Broadcast a WordPiece vocabulary for the encode kernel — build
    * once, reuse across every [[wordpieceEncode]] call in the job
    * (the [[bpeMergesBroadcast]] convention). */
  def wordpieceVocabBroadcast(spark: org.apache.spark.sql.SparkSession,
      vocab: Seq[(String, Int)], unk: String = "[UNK]",
      maxChars: Int = 100)
      : org.apache.spark.broadcast.Broadcast[
        graft.functions.WordPiece.Vocab] =
    spark.sparkContext.broadcast(
      graft.functions.WordPiece.build(vocab, unk, maxChars))

  /** WORDPIECE encode — the BERT family's greedy longest-match-first
    * subword algorithm over [[wordpieceBasicTokens]], completing the
    * tokenizer trio (byte-level BPE, unigram LM, WordPiece): one
    * space-separated piece string per basic token (`##` continuation
    * forms, unk collapse — [[graft.functions.WordPiece]] has the full
    * semantics). Map-only; the vocab rides ONE broadcast, the plan is
    * O(1) in vocab size, the corpus never shuffles. */
  def wordpieceEncode(text: Column,
      bc: org.apache.spark.broadcast.Broadcast[
        graft.functions.WordPiece.Vocab],
      lowercase: Boolean = true): Column =
    transform(wordpieceBasicTokens(text, lowercase),
      w => graft.functions.WordPiece.encodeWord(w, bc))

  /** TOKEN IDS under WordPiece semantics — [[wordpieceEncode]]'s
    * pieces flattened to the document's id sequence. WordPiece's
    * encode vocab IS its id vocab, so the SAME broadcast serves both
    * sides ([[graft.functions.WordPieceIds]]) and ids are -1-free by
    * construction: every emitted piece (unk included) is a vocab
    * entry. */
  def wordpieceEncodeIds(text: Column,
      bcVocab: org.apache.spark.broadcast.Broadcast[
        graft.functions.WordPiece.Vocab],
      lowercase: Boolean = true): Column =
    flatten(transform(wordpieceBasicTokens(text, lowercase),
      w => graft.functions.WordPiece.idsOf(
        graft.functions.WordPiece.encodeWord(w, bc = bcVocab),
        bcVocab)))

  /** WordPiece token budget — Σ over basic tokens of piece counts
    * (the [[bpeTokenCountByteLevel]] statistic at BERT granularity). */
  def wordpieceTokenCount(text: Column,
      bc: org.apache.spark.broadcast.Broadcast[
        graft.functions.WordPiece.Vocab],
      lowercase: Boolean = true): Column =
    aggregate(
      transform(wordpieceBasicTokens(text, lowercase),
        w => size(split(graft.functions.WordPiece.encodeWord(w, bc),
          " ")).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** BPE TRAINER — the iterative loop whose single statistics pass is
    * [[bpePairCounts]] and whose output drives [[bpeEncode]]: `numMerges`
    * rounds of (argmax adjacent-symbol pair → merge it everywhere →
    * recount), returning the learned merge table
    * (merge_rank, lhs, rhs, n_pairs) in rank order.
    *
    * Working set: the DISTINCT word-frequency table (the classical
    * Sennrich et al. 2016 trainer state) — vocabulary-sized, orders
    * below the corpus; each word is carried as its space-separated
    * symbol string, the exact representation [[bpeEncodeWord]] folds
    * over, so `bpeEncode(text, bpeTrain(docs).collect-as-pairs)`
    * tokenizes with the trained merges verbatim. Pair counts weight by
    * word frequency and count every adjacent position (the reference
    * trainer's statistic, shared with [[bpePairCounts]]).
    *
    * Determinism: the argmax tie-breaks by (count DESC, lhs ASC,
    * rhs ASC) — exact integers and lexicographic order, so the learned
    * table is bit-identical across engines and runs. Merged symbols
    * never contain spaces, so the merge rewrite (`replace` of
    * "lhs rhs" → "lhsrhs", left-to-right non-overlapping) is closed
    * over the representation.
    *
    * Scale shape (the PageRank loop pattern, ops/Graph.scala): the word
    * table persists across rounds (re-materialized + lineage-cut after
    * each merge, previous round unpersisted), each round is ONE
    * map-side-combined pair aggregation over it plus a 1-row argmax
    * take; the corpus itself is read once, at word-table build. Rounds
    * end early if every word collapses to a single symbol. */
  def bpeTrain(docs: DataFrame, numMerges: Int = 8,
               textCol: String = "text",
               driverMaxWords: Long = defaultBpeDriverMaxWords)
      : DataFrame = {
    require(numMerges > 0, "numMerges must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.filter(col(textCol).isNotNull)
      .select(explode(filter(wsTokens(lower(col(textCol))),
        t => length(t) > 1)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      // "abc" -> "a b c" (bpeEncodeWord's spaced-symbol form)
      .select(rtrim(regexp_replace(col("w"), "(.)", "$1 ")).as("s"),
        col("n"))
    bpeTrainFromWords(spark, words, numMerges, driverMaxWords)
  }

  /** BYTE-LEVEL BPE TRAINER — [[bpeTrain]]'s loop over the GPT-2
    * pre-token byte-form domain instead of lowercased whitespace
    * words: pre-tokens via [[gpt2PreTokens]] (case preserved, leading
    * spaces attached), mapped through the bytes_to_unicode alphabet
    * ([[graft.functions.Gpt2Bytes]]) BEFORE the frequency count, so
    * the learned merges come out IN the byte alphabet (`Ġ`-forms) —
    * exactly the table [[bpeEncodeByteLevel]] consumes and
    * [[TokenizerFiles.writeMergesTxt]] ships: train here, encode
    * anywhere. Same trainer state and shuffle ledger as [[bpeTrain]]
    * (the DISTINCT pre-token-frequency table — vocabulary-sized;
    * per-round pair partials + a 1-row argmax). */
  def bpeTrainByteLevel(docs: DataFrame, numMerges: Int = 8,
                        textCol: String = "text",
                        driverMaxWords: Long = defaultBpeDriverMaxWords)
      : DataFrame = {
    require(numMerges > 0, "numMerges must be positive")
    val spark = docs.sparkSession
    val words = docs.filter(col(textCol).isNotNull)
      .select(explode(gpt2PreTokens(col(textCol))).as("t"))
      .select(graft.functions.VectorExpressions.gpt2Bytes(col("t"))
        .as("w"))
      .filter(length(col("w")) > 1)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(rtrim(regexp_replace(col("w"), "(.)", "$1 ")).as("s"),
        col("n"))
    bpeTrainFromWords(spark, words, numMerges, driverMaxWords)
  }

  /** BPE TRAINING in the METASPACE alphabet — the SentencePiece-BPE
    * (Llama-family) counterpart of [[bpeTrainByteLevel]]: pre-tokens
    * come from [[metaspacePreTokens]] (case preserved, every word
    * carrying its ▁ under the default scheme), initial symbols are
    * code points, and the shared trainer loop learns merges the
    * metaspace ENCODERS apply directly — close the loop by shipping
    * the table with [[TokenizerFiles.writeTokenizerJsonBpe]] and
    * re-loading it via [[TokenizerFiles.loadTokenizer]]. Single-char
    * pre-tokens (a bare `▁` from runs of spaces) carry no pairs and
    * drop from the frequency table, exactly like the other trainers. */
  def bpeTrainMetaspace(docs: DataFrame, numMerges: Int = 8,
                        textCol: String = "text",
                        replacement: String = "▁",
                        prepend: String = "always",
                        driverMaxWords: Long = defaultBpeDriverMaxWords)
      : DataFrame = {
    require(numMerges > 0, "numMerges must be positive")
    val spark = docs.sparkSession
    val words = docs.filter(col(textCol).isNotNull)
      .select(explode(
        metaspacePreTokens(col(textCol), replacement, prepend)).as("w"))
      .filter(length(col("w")) > 1)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(rtrim(regexp_replace(col("w"), "(.)", "$1 ")).as("s"),
        col("n"))
    bpeTrainFromWords(spark, words, numMerges, driverMaxWords)
  }

  /** A trained add-one bigram language model ([[bigramLmTrain]]):
    * bigram counts `(w1, w2, c12)`, unigram counts `(w, c1)`, and the
    * vocabulary size the smoothing denominator needs. */
  final case class BigramLm(bigrams: DataFrame, unigrams: DataFrame,
                            vocabSize: Long)

  /** Train the CCNet-style PERPLEXITY FILTER's reference model (Wenzek
    * et al. 2020: documents whose reference-LM perplexity is an
    * outlier are boilerplate / garbled / wrong-register; the filter
    * keeps the band a quality corpus occupies): add-one-smoothed
    * bigram counts over the lowercased whitespace words of a REFERENCE
    * corpus (Wikipedia-class text in production; any trusted slice).
    *
    * Scale shape: two map-side-combined groupBys — the unigram table
    * is vocabulary-sized, the bigram table bigram-vocabulary-sized
    * (both orders below the corpus); one 1-row count for V. Text
    * never shuffles. */
  def bigramLmTrain(ref: DataFrame, textCol: String = "text")
      : BigramLm = {
    val toks = ref.filter(col(textCol).isNotNull)
      .select(filter(wsTokens(lower(col(textCol))),
        t => length(t) > 0).as("ws"))
    val unigrams = toks.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val bigrams = toks.filter(size(col("ws")) > 1)
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1), " +
          "i -> struct(ws[i - 1] AS w1, ws[i] AS w2))")).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
    BigramLm(bigrams, unigrams, unigrams.count())
  }

  /** Score documents by MEAN BIGRAM NEGATIVE LOG-LIKELIHOOD under a
    * [[bigramLmTrain]] REFERENCE model — the CCNet structure proper:
    * unlike [[bigramNll]] (leave-in MLE over the scored corpus itself,
    * no unseen mass) and [[interpolatedNll]]'s in-corpus smoothing,
    * the model here is a SEPARATE trusted corpus and scored documents
    * may contain words the reference never saw — add-one smoothing
    * gives those exact, well-defined mass. Per bigram: -ln((c12 + 1) / (c1 + V)) with add-one
    * smoothing (unseen pairs and unseen heads fall back exactly);
    * per document: the mean over its bigrams. Perplexity itself is
    * exp(nll) and is deliberately NOT emitted — exp is not
    * bit-portable across engines (the BENCH_NOTES rule) and every
    * threshold on perplexity is the same threshold on nll. Each ln is
    * snapped to the 2^-20 dyadic grid (the q242 recipe) so the
    * per-document SUM is exact in any addition order and the single
    * edge division is IEEE-identical everywhere.
    *
    * Documents with fewer than two tokens carry no bigram evidence and
    * are ABSENT from the result — callers left-join and decide (no
    * evidence ≠ bad).
    *
    * Scale shape: the document pair list (corpus-token-sized rows of
    * three strings) shuffles once onto the (w1, w2) join key; the
    * unigram join and final per-doc agg ride the same exchange
    * (AQE broadcasts the vocab-sized tables when they fit). */
  def bigramNllRef(docs: DataFrame, lm: BigramLm,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val pairs = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        filter(wsTokens(lower(col(textCol))),
          t => length(t) > 0).as("ws"))
      .filter(size(col("ws")) > 1)
      .select(col(idCol), explode(expr(
        "transform(sequence(1, size(ws) - 1), " +
          "i -> struct(ws[i - 1] AS w1, ws[i] AS w2))")).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
    pairs
      .join(lm.bigrams, Seq("w1", "w2"), "left")
      .join(lm.unigrams.withColumnRenamed("w", "w1"), Seq("w1"), "left")
      .select(col(idCol),
        (floor(log(
          (coalesce(col("c12"), lit(0L)) + 1).cast("double") /
            (coalesce(col("c1"), lit(0L)) + lm.vocabSize)
              .cast("double")) * 1048576.0 + 0.5) / 1048576.0).as("lnp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        (-sum("lnp") / count(lit(1))).as("nll"))
  }

  /** The shared trainer loop over a spaced-symbol word-frequency table
    * `(s, n)` — see [[bpeTrain]] for the algorithm and cost ledger. */
  /** Gate for [[bpeTrainFromWords]]'s driver fast path (see there);
    * env-overridable, 0 forces the distributed loop. */
  private[graft] val defaultBpeDriverMaxWords: Long =
    sys.env.get("SPARK_GRAFT_BPE_DRIVER_MAX_WORDS")
      .flatMap(_.toLongOption).getOrElse(2000000L)

  private def bpeTrainFromWords(spark: org.apache.spark.sql.SparkSession,
      words: DataFrame, numMerges: Int,
      driverMaxWords: Long = defaultBpeDriverMaxWords): DataFrame = {
    import spark.implicits._
    var cur = words.persist()
    val nWords = cur.count()
    // Small-vocabulary driver fast path (the Graph-loop gate applied to
    // the DISTINCT-WORD frequency table): below the gate the whole
    // merge loop runs on driver arrays — the distributed loop pays an
    // argmax job + a persist/count barrier PER MERGE (numMerges·2 jobs
    // of vocabulary-sized work). Same integer pair counts, same
    // (cnt desc, lhs, rhs) UTF-8-ordered argmax, same non-overlapping
    // left-to-right pair rewrite (mergeAdjacentPair's doubled-space
    // replace, replayed verbatim) — bit-identical by construction, and
    // parity-specced against the distributed loop. Above the gate
    // (a 100 TB corpus's word table) the distributed loop is unchanged.
    if (driverMaxWords > 0 && nWords <= driverMaxWords) {
      val rows = cur.collect().map(r => (r.getString(0), r.getLong(1)))
      cur.unpersist(false)
      return bpeTrainDriver(spark, rows, numMerges)
    }
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val top = cur
        .select(split(col("s"), " ").as("syms"), col("n"))
        .filter(size(col("syms")) > 1)
        .select(explode(expr("transform(sequence(1, size(syms) - 1), " +
          "i -> struct(syms[i - 1] AS lhs, syms[i] AS rhs))")).as("p"),
          col("n"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect() // 1 row — the argmax, bounded by design
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, l, r, c))
        val next = cur.select(
          mergeAdjacentPair(col("s"), l, r).as("s"),
          col("n")).persist()
        next.count()
        cur.unpersist(false)
        cur = next
        rank += 1
      }
    }
    cur.unpersist(false)
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "n_pairs")
  }

  /** Driver replay of the [[bpeTrainFromWords]] loop over a collected
    * (spaced-symbol word, freq) table — every step mirrors the
    * distributed expressions exactly:
    *  - pair counts: `split(s, " ")` ≡ `String.split(" ", -1)`, words
    *    with ≤ 1 symbol skipped, exact integer sums (addExact — ANSI
    *    overflow parity);
    *  - argmax: (cnt desc, lhs, rhs) with strings in UTF8String order;
    *  - rewrite: [[mergeAdjacentPair]]'s doubled-space literal replace
    *    (Java `String.replace` is the same all-occurrences
    *    left-to-right scan as Spark's StringReplace), `" {2,}"` regex
    *    collapse, and a trim of SPACES ONLY (UTF8String.trim's rule —
    *    `String.trim` would also strip control chars). */
  private def bpeTrainDriver(spark: org.apache.spark.sql.SparkSession,
      words: Array[(String, Long)], numMerges: Int): DataFrame = {
    import spark.implicits._
    def u8 = (a: String, b: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    def trimSpaces(s: String): String = {
      var i = 0
      var j = s.length
      while (i < j && s.charAt(i) == ' ') i += 1
      while (j > i && s.charAt(j - 1) == ' ') j -= 1
      s.substring(i, j)
    }
    var cur = words
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val counts =
        scala.collection.mutable.HashMap.empty[(String, String), Long]
      cur.foreach { case (s, n) =>
        val syms = s.split(" ", -1)
        if (syms.length > 1) {
          var i = 1
          while (i < syms.length) {
            val key = (syms(i - 1), syms(i))
            counts.update(key,
              Math.addExact(counts.getOrElse(key, 0L), n))
            i += 1
          }
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), c) = counts.minBy(identity)(new Ordering[
            ((String, String), Long)] {
          def compare(x: ((String, String), Long),
                      y: ((String, String), Long)): Int = {
            // min under (cnt desc, lhs asc, rhs asc) == the argmax
            if (x._2 != y._2) java.lang.Long.compare(y._2, x._2)
            else {
              val cl = u8(x._1._1, y._1._1)
              if (cl != 0) cl else u8(x._1._2, y._1._2)
            }
          }
        })
        merges += ((rank, l, r, c))
        val target = " " + l + "  " + r + " "
        val repl = " " + l + r + " "
        cur = cur.map { case (s, n) =>
          val doubled = " " + s.replace(" ", "  ") + " "
          (trimSpaces(doubled.replace(target, repl)
            .replaceAll(" {2,}", " ")), n)
        }
        rank += 1
      }
    }
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "n_pairs")
  }

  /** NAIVE BAYES TRAINING — the counts half of a multinomial NB text
    * classifier (the classical fastText-era quality/topic baseline whose
    * INFERENCE shape is [[scoreLinearModel]]): per (label, token)
    * occurrence counts, per-label token totals, global vocabulary size,
    * and the add-one-smoothed conditional probability
    * `(n + 1) / (label_tokens + vocab)`. The probability is ONE exact-
    * integer division — IEEE-exactly-rounded, so bit-identical across
    * engines (the log-space form is deliberately left to the caller:
    * `ln` is the one non-portable step, same rule as q148's sigmoid).
    *
    * Scale: explode → map-side-combined (label, token) count (the only
    * token-domain shuffle), label totals are a |labels|-row broadcast,
    * vocab is a 1-row broadcast — document payloads never shuffle. */
  def naiveBayesTrain(docs: DataFrame, labelCol: String,
                      textCol: String = "text"): DataFrame = {
    val pairs = docs
      .filter(col(textCol).isNotNull && col(labelCol).isNotNull)
      .select(col(labelCol).as("label"),
        explode(filter(wsTokens(lower(col(textCol))),
          t => length(t) > 0)).as("token"))
      .groupBy("label", "token").agg(count(lit(1)).as("n"))
    val labelTotals = pairs.groupBy("label")
      .agg(sum(col("n")).as("label_tokens"))
    val vocab = pairs.select(countDistinct(col("token")).as("vocab"))
    pairs
      .join(broadcast(labelTotals), Seq("label"))
      .crossJoin(broadcast(vocab))
      .select(col("label"), col("token"), col("n"), col("label_tokens"),
        col("vocab"),
        ((col("n") + 1).cast("double") /
          (col("label_tokens") + col("vocab")).cast("double"))
          .as("smoothed_prob"))
  }

  /** CONTAMINATION REPORT — the measurement complement of
    * [[decontaminate]] (which drops): for each EVAL document, how many of
    * its distinct word `n`-gram shingles appear anywhere in the training
    * corpus, and the hit fraction — the per-benchmark overlap audit
    * published alongside every serious pretraining corpus. Train side
    * collapses to its DISTINCT shingle set before the join (shingle-
    * domain shuffle, never train payloads); the eval side is benchmarks —
    * tiny by construction — so the per-doc counts are cheap. Exact
    * integers + one exact-quotient division. */
  def contaminationReport(train: DataFrame, evalSet: DataFrame,
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          n: Int = 8): DataFrame = {
    val evalSh = evalSet.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(shingles(col(textCol), n)).as("shingle"))
    val trainSh = train.filter(col(textCol).isNotNull)
      .select(explode(shingles(col(textCol), n)).as("shingle")).distinct()
    val totals = evalSh.groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"))
    val hits = evalSh.join(trainSh, Seq("shingle"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_shingles").cast("double")).as("hit_fraction"))
  }

  /** OOV-RATE REPORT — tokenizer-vocabulary coverage over a corpus: per
    * document, total tokens, tokens outside the supplied vocabulary, and
    * the OOV fraction (the signal that decides whether a tokenizer fits
    * a corpus before training starts). The vocabulary rides the plan as
    * an IN-list literal (broadcast-a-frame variant unnecessary below
    * ~10^4 entries); everything is a map-only projection. */
  def oovStats(docs: DataFrame, vocab: Seq[String],
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    require(vocab.nonEmpty, "vocabulary must not be empty")
    val words = vocab.map(_.toLowerCase).distinct
    val toks = filter(wsTokens(lower(coalesce(col(textCol), lit("")))),
      t => length(t) > 0)
    val oov = filter(toks, t => !t.isin(words: _*))
    docs.select(col(idCol), size(toks).as("n_tokens"),
      size(oov).as("n_oov"),
      when(size(toks) > 0,
        size(oov).cast("double") / size(toks).cast("double"))
        .otherwise(lit(0.0)).as("oov_fraction"))
  }

  /** SENTENCE STATISTICS — the sentence-granularity half of the Gopher/
    * DCLM rule sets ([[gopherRules]] covers words and lines): sentence
    * count and mean trimmed sentence length in characters, with
    * sentences delimited by `[.!?]+` runs and whitespace-only segments
    * dropped. Higher-order folds over the split array — map-only,
    * codegen'd; the mean is an exact-integer quotient. */
  def sentenceStats(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val segs = filter(
      transform(split(coalesce(col(textCol), lit("")), "[.!?]+"),
        s => trim(s)),
      s => length(s) > 0)
    val totalChars = aggregate(segs, lit(0L), (acc, s) => acc + length(s))
    docs.select(col(idCol), size(segs).as("n_sentences"),
      when(size(segs) > 0,
        totalChars.cast("double") / size(segs).cast("double"))
        .otherwise(lit(0.0)).as("mean_sentence_chars"))
  }

  /** SCRIPT-DISPATCHED [[sentenceStats]] — CJK prose terminates
    * sentences with the full-width 。！？ (U+3002/U+FF01/U+FF1F), which
    * the ASCII `[.!?]+` delimiter class never matches: a whole CJK
    * document reads as ONE sentence and every per-sentence rule misfires
    * (the [[gopherRulesScripted]] blind spot at sentence granularity).
    * Dispatch by [[dominantScriptExpr]]: dominant != cjk splits on the
    * EXACT legacy class (spec-pinned equality — existing corpora
    * re-measure identically); dominant == cjk splits on
    * `[.!?。！？]+` (full-width terminators PLUS ascii — mixed
    * punctuation is common in CJK web text). Same trimmed-segment
    * filter, same exact-integer mean. Map-only, codegen'd; the
    * identical class strings replay in the oracle. */
  def sentenceStatsScripted(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val isCjk = dominantScriptExpr(t) === "cjk"
    def segsOf(delims: String) =
      filter(transform(split(t, delims), s => trim(s)),
        s => length(s) > 0)
    val segsEn = segsOf("[.!?]+")
    val segsCjk = segsOf("[.!?。！？]+")
    val nSent = when(isCjk, size(segsCjk)).otherwise(size(segsEn))
    val totalChars = when(isCjk,
      aggregate(segsCjk, lit(0L), (acc, s) => acc + length(s)))
      .otherwise(
        aggregate(segsEn, lit(0L), (acc, s) => acc + length(s)))
    docs.select(col(idCol), nSent.as("n_sentences"),
      when(nSent > 0,
        totalChars.cast("double") / nSent.cast("double"))
        .otherwise(lit(0.0)).as("mean_sentence_chars"))
  }

  /** TEMPERATURE-SCALED SOURCE WEIGHTS — the multilingual/multi-source
    * sampling heuristic (T5/mT5-style): per-source token counts raised
    * to `alpha` flatten the natural size distribution so small sources
    * are not drowned. Emits the raw weight and the weight relative to
    * the LARGEST source (max is aggregation-order-independent, so the
    * relative form stays bit-portable; a Σ-normalized rate would depend
    * on float summation order — callers needing true rates feed these
    * weights to [[mixtureRates]]' integer-ppm machinery). `alpha = 0.5`
    * uses `sqrt` (IEEE correctly-rounded, bit-identical everywhere);
    * other alphas go through `pow` (documented: last-ulp variance
    * across libm implementations). One tiny grouped agg + broadcast
    * max — corpus payloads never shuffle.
    *
    * [[temperatureRates]] is the end-to-end companion: it DOES produce
    * Σ-normalized keep-rates — the summation-order problem this method
    * sidesteps is solved there with a fixed-order sequential fold — and
    * feeds [[mixtureSample]] directly. Use this method when you want
    * the raw/relative weights themselves (reports, custom allocators);
    * use temperatureRates for the full derived-rate sampling path. */
  def temperatureWeights(docs: DataFrame, sourceCol: String = "source",
                         textCol: String = "text",
                         alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0,1]")
    val toks = filter(wsTokens(lower(col(textCol))), t => length(t) > 0)
    val counts = docs
      .filter(col(textCol).isNotNull && col(sourceCol).isNotNull)
      .groupBy(col(sourceCol).as("source"))
      .agg(sum(size(toks).cast("long")).as("n_tokens"))
    val weighted = counts.select(col("source"), col("n_tokens"),
      (if (alpha == 0.5) sqrt(col("n_tokens").cast("double"))
       else pow(col("n_tokens").cast("double"), lit(alpha)))
        .as("weight"))
    val maxW = weighted.select(max(col("weight")).as("max_weight"))
    weighted.crossJoin(broadcast(maxW))
      .select(col("source"), col("n_tokens"), col("weight"),
        (col("weight") / col("max_weight")).as("rel_weight"))
  }

  /** BIGRAM LANGUAGE-MODEL STATISTICS — per context word, the top-`k`
    * continuations with count and conditional probability
    * `P(w2|w1) = n(w1,w2) / n(w1,·)` (one exact-integer division — the
    * portable half of an n-gram LM; log-space/backoff left caller-side
    * per the q148/q156 non-portable-`ln` rule). One (w1, w2) map-side-
    * combined count, one w1-keyed window capped by rank BEFORE any
    * collection (WindowGroupLimit prunes, so stop-word contexts emit
    * `k` rows, never vocabulary-width fans). */
  def bigramLm(docs: DataFrame, k: Int = 3,
               textCol: String = "text"): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val pairs = withToks(docs.filter(col(textCol).isNotNull), textCol)
      .filter(size(col("_toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(_toks) - 1)," +
          " i -> struct(_toks[i-1] AS w1, _toks[i] AS w2))"))
        .as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    val ctx = pairs.groupBy("w1").agg(sum(col("n")).as("context_n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("w1").orderBy(col("n").desc, col("w2"))
    pairs
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .join(broadcast(ctx), Seq("w1"))
      .select(col("w1"), col("w2"), col("n"), col("context_n"),
        (col("n").cast("double") / col("context_n").cast("double"))
          .as("prob"),
        col("rank"))
  }

  /** Helper column for [[bigramLm]]'s token array (named so the SQL
    * `expr` above can reference it). */
  private def withToks(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("_toks",
      filter(wsTokens(lower(col(textCol))), t => length(t) > 0))

  /** TEXT NORMALIZATION — the canonicalization pass crawl pipelines run
    * before tokenization/dedup (C4/Gopher-style): typographic quotes and
    * dashes folded to ASCII, NBSP to space, whitespace runs collapsed,
    * edges trimmed. Character-for-character `replace` folds (portable
    * verbatim to any engine) plus one whitespace-class regex; map-only,
    * codegen'd. Deliberately NOT a full NFKC pass — the fold set is
    * explicit and auditable, which is what a curation pipeline wants;
    * when the full Unicode forms ARE wanted, [[nfcNormalize]] /
    * [[nfkcNormalize]] sit next to this. */
  def normalizeText(text: Column): Column = {
    val folds: Seq[(String, String)] = Seq(
      "\u2018" -> "'", "\u2019" -> "'", // ' '
      "\u201C" -> "\"", "\u201D" -> "\"", // " "
      "\u2013" -> "-", "\u2014" -> "-", // – —
      "\u00A0" -> " ") // NBSP
    val folded = folds.foldLeft(coalesce(text, lit(""))) {
      case (acc, (from, to)) => replace(acc, lit(from), lit(to))
    }
    trim(regexp_replace(folded, "[ \\t\\n\\r]+", " "))
  }

  /** Unicode CANONICAL COMPOSITION (NFC, UAX #15) — the normalization
    * digest dedup needs BEFORE hashing: composed "é" and
    * "e" + U+0301 are byte-different, hash-different, and the same
    * text; NFC collapses every canonical-equivalent spelling to one
    * byte sequence (combining marks compose, Hangul jamo become
    * syllables). [[graft.functions.UnicodeNormalize]] kernel:
    * quick-check fast path (already-normal text — all ASCII included —
    * is one scan, zero allocation), map-only, codegen'd. DuckDB's
    * `nfc_normalize` replays it bit-identically (q305's strict
    * oracle). Compose as `md5(nfcNormalize(text))` in the exact-dedup
    * digest. */
  def nfcNormalize(text: Column): Column =
    graft.functions.UnicodeNormalize(text, "NFC")

  /** MOJIBAKE REPAIR — the ftfy core loop
    * ([[graft.functions.FixMojibake]] kernel): UTF-8-decoded-as-cp1252
    * damage (`cafÃ©`, `donâ€™t`, double-encoded `cafÃƒÂ©`) heals by
    * the exact inverse round trip; genuine Latin-1 and real non-Latin
    * text pass through UNCHANGED (the strict re-decode is the guard).
    * The REPAIR complement of the q157 damage GATE: gate what cannot
    * be fixed, fix what can. Compose BEFORE [[nfcNormalize]]. */
  def fixMojibake(text: Column): Column =
    graft.functions.FixMojibake(text)

  /** Unicode COMPATIBILITY COMPOSITION (NFKC) — [[nfcNormalize]] plus
    * compatibility folds (ﬁ → fi, full-width Ａ → A, ① → 1, ² → 2):
    * the tokenizer-facing canonicalization (what GPT-NeoX/SentencePiece
    * pipelines apply). MORE aggressive than dedup wants (it erases
    * distinctions a faithful corpus keeps), so it is a separate opt-in
    * op, spec-gated (no engine-portable oracle function exists). */
  def nfkcNormalize(text: Column): Column =
    graft.functions.UnicodeNormalize(text, "NFKC")

  /** ANCHOR-TEXT EXTRACTION — the (href, anchor) pair form of
    * [[extractLinks]]: every `<a ... href="X" ...>TEXT</a>` in document
    * order, case-insensitive, both quote styles, anchor limited to
    * markup-free runs (`[^<]*` — nested markup inside the anchor ends
    * the match, the standard cheap-extractor trade-off). Two capture
    * groups extracted by parallel `regexp_extract_all` calls zipped
    * into structs — map-only, Java ∩ RE2 subset. Feeds the classic
    * anchor-text relevance signal: explode + group by target domain. */
  def extractAnchors(html: Column): Column = {
    val p = "(?i)<a\\s[^>]*href\\s*=\\s*[\"']([^\"'<>]+)[\"'][^>]*>([^<]*)</a>"
    val h = coalesce(html, lit(""))
    arrays_zip(
      regexp_extract_all(h, lit(p), lit(1)).as("link"),
      regexp_extract_all(h, lit(p), lit(2)).as("anchor"))
  }

  /** ENCODING-DAMAGE DETECTION — the mojibake/transcoding gate a crawl
    * corpus needs before any text rule runs: U+FFFD replacement-
    * character count (the decoder's own damage marker), C0 control
    * characters outside tab/LF/CR, non-ASCII fraction, and a composite
    * `damaged` verdict. Counts come from `length(t) - length(strip)` so
    * only character-class regexes in the Java ∩ RE2 subset are needed;
    * everything is a map-only projection in the document scan. */
  def mojibakeStats(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    def strippedLen(pattern: String): Column =
      length(t) - length(regexp_replace(t, pattern, ""))
    val replCount = strippedLen("\uFFFD")
    val ctrlCount = strippedLen("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
    val nonAscii = strippedLen("[^\\x00-\\x7F]")
    docs.select(col(idCol), length(t).as("n_chars"),
      replCount.as("n_replacement"),
      ctrlCount.as("n_control"),
      nonAscii.as("n_non_ascii"),
      when(length(t) > 0, nonAscii.cast("double") / length(t))
        .otherwise(lit(0.0)).as("non_ascii_fraction"),
      (replCount > 0 || ctrlCount > 0).cast("int").as("damaged"))
  }

  /** C4-STYLE LINE FILTERING (Raffel et al. 2020 §2.2) — the line-level
    * cleanup pass that precedes document rules: keep only lines with at
    * least `minWordsPerLine` words (paper default: 5) AND a terminal-
    * punctuation ending (`.`, `!`, `?`, `"`); drop the whole document if
    * it mentions "lorem ipsum" or contains `{` (code leakage), keeps no
    * lines, or — when `minSentences` > 0 (the paper uses 3; default 0
    * keeps the rule opt-in) — its kept text carries fewer than that many
    * sentence terminators (`.`, `!`, `?`).
    * Output: surviving docs as (id, n_lines, kept_lines, cleaned) with
    * `cleaned` the kept lines rejoined by newline.
    *
    * Pure higher-order-function column work (`filter` over the split
    * lines) — map-only, codegen'd, zero shuffle; the cheapest possible
    * corpus pass at 100 TB. The word-count predicate counts non-empty
    * space-split segments so runs of spaces do not inflate it.
    *
    * COMPATIBILITY NOTE: the `minWordsPerLine` default moved 3 → 5 in
    * round 10 to match the paper; callers upgrading across that change
    * (including `curate(c4Lines = true)`) who relied on the old
    * behavior must pass `minWordsPerLine = 3` explicitly.
    *
    * `scriptAware` (r12, default off — byte-identical legacy behavior):
    * per-line words count via the [[scriptAwareTokenCount]] mixed rule
    * (each CJK char one word + latin-residue words — a space-free line
    * otherwise counts as ONE word and always drops) and the terminal-
    * punctuation class extends to the CJK full-width enders 。！？」』
    * (as does the sentence counter). */
  def c4LineFilter(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   minWordsPerLine: Int = 5,
                   minSentences: Int = 0,
                   scriptAware: Boolean = false): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val lines = split(t, "\n")
    val termClass = if (scriptAware) "[.!?\"。！？」』]$" else "[.!?\"]$"
    def lineWords(l: Column): Column =
      if (scriptAware) scriptAwareTokenCount(l)
      else size(filter(split(l, " "), w => length(w) > 0)).cast("long")
    def keepLine(l: Column): Column =
      lineWords(l) >= minWordsPerLine && l.rlike(termClass)
    val keptArr = filter(lines, keepLine _)
    val base = docs
      .filter(!lower(t).contains("lorem ipsum") && !t.contains("{"))
      .select(col(idCol), size(lines).cast("long").as("n_lines"),
        size(keptArr).cast("long").as("kept_lines"),
        array_join(keptArr, "\n").as("cleaned"))
      .filter(col("kept_lines") > 0)
    val sentClass = if (scriptAware) "[.!?。！？]" else "[.!?]"
    if (minSentences <= 0) base
    else base.filter(length(col("cleaned")) -
      length(regexp_replace(col("cleaned"), sentClass, "")) >= minSentences)
  }

  /** CCNet-STYLE PERPLEXITY BUCKETS (Wenzek et al. 2020 §4.4) — rank each
    * document inside its `groupCol` stratum by corpus-LM negative
    * log-likelihood ([[unigramNll]]) and cut the stratum into
    * head/middle/tail thirds: "head" is the most-fluent slice crawls
    * train on first, "tail" the usual drop candidate. Deterministic:
    * `ntile` ordered by (rounded nll, id) — no float ties decide a
    * bucket. One token-domain aggregation (the NLL model) + one
    * window per stratum; the window input is (id, group, nll) only.
    *
    * `scorer` swaps the LM: default [[unigramNll]]; pass
    * [[kneserNeyNll]] for the smoothing CCNet's KenLM actually uses
    * (any (docs, idCol, textCol) → (idCol, …, nll) frame works). */
  def pplBuckets(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", groupCol: String = "source",
                 buckets: Int = 3,
                 scorer: (DataFrame, String, String) => DataFrame =
                   unigramNll(_, _, _)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nll = scorer(docs, idCol, textCol)
      .select(col(idCol), col("nll"))
      .join(docs.select(col(idCol), col(groupCol)), idCol)
    val w = Window.partitionBy(groupCol).orderBy(col("nll"), col(idCol))
    nll.withColumn("b", ntile(buckets).over(w))
      .select(col(idCol), col(groupCol), col("nll"),
        when(col("b") === 1, "head")
          .when(col("b") === buckets, "tail")
          .otherwise("middle").as("bucket"))
  }

  /** KMV DISTINCT SKETCH (Bar-Yossef et al. 2002; the mergeable
    * "k minimum values" estimator) — per-`groupCol` distinct-token
    * estimate from the k-th smallest md5(token): with hashes uniform in
    * [0,1), E[distinct] ≈ (k−1)/h_(k). Fully deterministic and
    * engine-portable (md5 hex order IS the numeric order of the hash
    * fraction), unlike HLL sketches whose registers differ per engine —
    * so the estimate itself is oracle-checkable bit-for-bit.
    * Output: (group, n_distinct_exact, kth_hash, estimate); groups with
    * fewer than k distinct tokens fall back to the exact count.
    *
    * Scale: the shuffle is the distinct (group, token) reduction —
    * at 100 TB swap `token` for `md5(token)` at the explode so only
    * 32-byte digests ship; the per-group top-k is a rank window over
    * distinct hashes (WindowGroupLimit prunes it map-side). */
  def kmvDistinct(docs: DataFrame, k: Int = 32,
                  textCol: String = "text",
                  groupCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, "k must be at least 2")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(groupCol), explode(
        filter(wsTokens(lower(col(textCol))), t => length(t) > 0))
        .as("token"))
      .select(col(groupCol), md5(col("token")).as("h")).distinct()
    val w = Window.partitionBy(groupCol).orderBy("h")
    val ranked = toks.withColumn("rn", row_number().over(w))
    val nDistinct = toks.groupBy(groupCol)
      .agg(count(lit(1)).as("n_distinct_exact"))
    // hash fraction from the first 12 hex digits: exact in a double
    val frac = conv(substring(col("kth_hash"), 1, 12), 16, 10)
      .cast("double") / lit(Math.pow(16.0, 12))
    ranked.filter(col("rn") <= k)
      .groupBy(groupCol).agg(max("h").as("kth_hash"))
      .join(nDistinct, groupCol)
      .select(col(groupCol), col("n_distinct_exact"), col("kth_hash"),
        round(when(col("n_distinct_exact") < k,
          col("n_distinct_exact").cast("double"))
          .otherwise(lit(k - 1) / frac), 3).as("estimate"))
  }

  /** EXACT-PROPORTION STRATIFIED SPLIT — the deterministic complement of
    * the per-row hash split ([[hashSplit]]): inside every `groupCol`
    * stratum, order rows by md5(id) (a fixed pseudo-random permutation)
    * and cut at exact 80/10/10 row boundaries, so every stratum's split
    * sizes are exact to ±1 row instead of binomially distributed — what
    * an eval-set builder needs when small strata must all be present in
    * val/test. Integer-only boundary math (rn·100 ≤ pct·n). One window
    * per stratum over (id, group) pairs — no data columns shuffle. */
  def stratifiedSplit(docs: DataFrame, idCol: String = "doc_id",
                      groupCol: String = "source",
                      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(trainPct + valPct <= 100, "train+val must leave room for test")
    val w = Window.partitionBy(groupCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val wAll = Window.partitionBy(groupCol)
    docs.select(col(idCol), col(groupCol))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .select(col(idCol), col(groupCol),
        when(col("rn") * 100 <= col("n") * trainPct, "train")
          .when(col("rn") * 100 <= col("n") * (trainPct + valPct), "val")
          .otherwise("test").as("split"))
  }

  /** TOKENIZER FERTILITY — subword-per-word and char-per-subword ratios
    * per `groupCol`: the standard multilingual-tokenizer health metric
    * (a stratum whose fertility is 2× the corpus mean is being
    * over-segmented and will under-train at a fixed token budget).
    * Uses the [[subwordCount]] regex proxy against whitespace words;
    * exact integer sums per stratum, quotients taken once at the end.
    * Map-side partial aggregation only — group cardinality rows out. */
  def tokenFertility(docs: DataFrame, textCol: String = "text",
                     groupCol: String = "source"): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val words = size(filter(wsTokens(t), w => length(w) > 0)).cast("long")
    docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(words).as("n_words"),
        sum(subwordCount(t).cast("long")).as("n_subwords"),
        sum(length(t).cast("long")).as("n_chars"))
      .select(col(groupCol), col("n_docs"), col("n_words"),
        col("n_subwords"),
        round(col("n_subwords").cast("double") / col("n_words"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_subwords"), 6)
          .as("chars_per_subword"))
  }
}
