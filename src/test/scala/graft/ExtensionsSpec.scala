package graft

import org.apache.spark.sql.functions._
import graft.ops.{AsOf, Quality}
import graft.dedup.Dedup
import graft.ml.Similarity
import graft.text.TextOps
import graft.multimodal.Multimodal

/** Training-data extensions: as-of, dedup family, ANN, text, multimodal. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  // ---- as-of -------------------------------------------------------------

  test("asofBackward picks latest right row at-or-before; strict excludes ties") {
    val left = Seq((1L, ts("2024-01-01 00:10:00"), "a"),
      (1L, ts("2024-01-01 00:30:00"), "b"),
      (2L, ts("2024-01-01 00:10:00"), "c")).toDF("k", "ts", "tag")
    val right = Seq((1L, ts("2024-01-01 00:10:00"), 10.0),
      (1L, ts("2024-01-01 00:20:00"), 20.0)).toDF("k", "ts", "value")
    val got = AsOf.asofBackward(left, right, Seq("k"), "ts", "ts",
      Seq("value")).orderBy("k", "ts").collect()
    assert(got(0).getAs[Double]("asof_value") == 10.0) // tie included
    assert(got(1).getAs[Double]("asof_value") == 20.0)
    assert(got(2).isNullAt(got(2).fieldIndex("asof_value"))) // no match

    val strict = AsOf.asofBackward(left, right, Seq("k"), "ts", "ts",
      Seq("value"), strict = true).orderBy("k", "ts").collect()
    assert(strict(0).isNullAt(strict(0).fieldIndex("asof_value")))
  }

  // ---- dedup -------------------------------------------------------------

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy cat again and again"),
    (3L, "completely different words about spark catalyst tungsten engine"),
    (4L, "THE  quick Brown fox jumps over the lazy dog again and again")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val got = Dedup.exact(docs).orderBy("keep_id").collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
    assert(got.toSeq == Seq((0L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("normalized dedup folds case/whitespace") {
    val got = Dedup.normalized(docs).orderBy("keep_id").collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
    assert(got.toSeq == Seq((0L, 3L), (2L, 1L), (3L, 1L)))
  }

  test("minhash: identical docs get est_jaccard 1.0; near-dups rank high") {
    val got = Dedup.minhashCandidates(docs).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Double]("est_jaccard"))).toMap
    assert(got((0L, 1L)) == 1.0)
    assert(got.get((0L, 2L)).forall(_ < 1.0))
    assert(!got.contains((0L, 3L)) && !got.contains((2L, 3L)))
  }

  test("simhash: identical docs at hamming 0; unrelated docs not candidates") {
    val got = Dedup.simhashCandidates(docs).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Int]("hamming").toLong)).toMap
    assert(got((0L, 1L)) == 0L)
    assert(!got.contains((0L, 3L)))
  }

  test("native MinHashSignature matches explode+groupBy reference formulation") {
    // reference: the former 64-min-agg relational shape (kept here as the
    // spec of the kernel's semantics)
    val P = 2147483647L
    def hashParams(k: Int): (Long, Long) = {
      var s = k.toLong * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
      s ^= s >>> 31; s *= 0x94D049BB133111EBL; s ^= s >>> 27
      ((s & 0x7FFFFFFFL) | 1L, (s >>> 33) % P)
    }
    val numHashes = 16
    val hashed = docs.select(col("doc_id").as("id"),
        explode(TextOps.shingles(col("text"), 3)).as("shingle"))
      .select(col("id"), pmod(xxhash64(col("shingle")), lit(P)).as("h"))
    val aggs = (0 until numHashes).map { k =>
      val (a, b) = hashParams(k)
      min(pmod(col("h") * lit(a) + lit(b), lit(P))).as(s"m$k")
    }
    val expected = hashed.groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(k => col(s"m$k")): _*).as("sig"))
      .collect().map(r => r.getAs[Long]("id") -> r.getSeq[Long](1)).toMap
    val got = Dedup.minhashSignatures(docs, numHashes = numHashes)
      .collect().map(r => r.getAs[Long]("id") -> r.getSeq[Long](1)).toMap
    assert(got == expected)
  }

  test("native SimHash64 matches explode+groupBy reference formulation") {
    val hashed = docs.select(col("doc_id").as("id"),
        explode(TextOps.shingles(col("text"), 3)).as("shingle"))
      .select(col("id"), xxhash64(col("shingle")).as("h"))
    val aggs = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1L)
        .otherwise(-1L)).as(s"b$i")
    }
    val bits = (0 until 64).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }
    val expected = hashed.groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        bits.reduce((a: org.apache.spark.sql.Column,
                     b: org.apache.spark.sql.Column) => a.bitwiseOR(b))
          .as("fp"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("fp")).toMap
    val got = Dedup.simhashFingerprints(docs)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("fp")).toMap
    assert(got == expected)
  }

  test("native kernels stay inside WholeStageCodegen") {
    // a CodegenFallback expression evicts its whole stage from codegen;
    // the kernels generate a reference-object call instead, so the
    // projection must appear under a WholeStageCodegen span (the `*(n)`
    // prefix in the executed plan)
    // repartition keeps the optimizer from folding the projection into
    // the eager LocalTableScan, so a real stage exists to inspect
    val base = docs.repartition(2)
    val plans = Seq(
      base.select(graft.functions.HashExpressions.minhashSignature(
        TextOps.shingles(col("text"), 3), 16)),
      base.select(graft.functions.HashExpressions.simhash64(
        TextOps.shingles(col("text"), 3))),
      base.select(graft.functions.VectorExpressions.wordShingles(
        col("text"), 3)),
      base.select(graft.functions.VectorExpressions.rollingFingerprints(
        col("text"), 8)))
      .map { df =>
        df.collect() // AQE finalizes codegen stages only on execution
        df.queryExecution.executedPlan.toString
      }
    plans.foreach { p =>
      assert(p.contains("*(1) Project"), s"kernel fell out of codegen:\n$p")
    }
  }

  test("ngramJaccard: identical 1.0, near-dup in (0,1), unrelated absent") {
    val got = Dedup.ngramJaccard(docs, minJaccard = 0.2).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Double]("jaccard"))).toMap
    assert(got((0L, 1L)) == 1.0)
    assert(got((0L, 2L)) > 0.2 && got((0L, 2L)) < 1.0)
    assert(!got.contains((0L, 3L)))
  }

  test("null-text docs are dropped from minhash/simhash pipelines") {
    val withNulls = docs.unionByName(
      Seq((8L, null: String), (9L, null: String)).toDF("doc_id", "text"))
    val mh = Dedup.minhashCandidates(withNulls).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    // no spurious (8,9) pair from a shared degenerate band bucket
    assert(!mh.contains((8L, 9L)))
    assert(Dedup.minhashSignatures(withNulls).count() == 5)
    assert(Dedup.simhashFingerprints(withNulls).count() == 5)
  }

  test("connectedComponents: empty nodes and foreign pair ids are handled") {
    val empty = spark.emptyDataFrame.select(lit(0L).as("id")).filter(lit(false))
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty, noPairs).count() == 0)

    // pairs referencing ids outside `nodes` must not leak into the output
    val nodes = (0L to 2L).toDF("id")
    val pairs = Seq((0L, 1L), (1L, 99L), (98L, 99L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L))
  }

  test("connectedComponents: chains collapse to min-id clusters, singletons kept") {
    val nodes = (0L to 6L).toDF("id")
    // chain 0-1-2, pair 4-5, singletons 3 and 6
    val pairs = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("id_a", "id_b")
    val expect = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L,
      4L -> 4L, 5L -> 4L, 6L -> 6L)
    // driver union-find path (default gate) and forced BSP path
    // (driverMaxEdges = 0) must agree exactly
    for (gate <- Seq(2000000L, 0L)) {
      Dedup.lastBspRounds.set(-1)
      val got = Dedup.connectedComponents(nodes, pairs,
          driverMaxEdges = gate)
        .collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id"))
        .toMap
      assert(got == expect, s"driverMaxEdges=$gate")
      // round-count instrumentation: the union-find path never touches
      // it; the BSP path converges in ceil(diameter/stepsPerRound)+1
      // rounds — diameter 2 here, stepsPerRound 2 → 1 + the confirm
      if (gate == 2000000L) assert(Dedup.lastBspRounds.get == -1)
      else assert(Dedup.lastBspRounds.get == 2,
        s"rounds: ${Dedup.lastBspRounds.get}")
    }
    // the round budget is diameter-bound, not size-bound: a 33-node
    // path (diameter 32, the worst shape per edge) needs 16+1 rounds
    // at stepsPerRound=2 — near-dup candidate graphs stay far below
    // this because their components are band-collision stars
    val pathNodes = (0L to 32L).toDF("id")
    val pathPairs = (0L until 32L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val pathGot = Dedup.connectedComponents(pathNodes, pathPairs,
        driverMaxEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pathGot == (0L to 32L).map((_, 0L)).toSet)
    assert(Dedup.lastBspRounds.get == 17,
      s"rounds: ${Dedup.lastBspRounds.get}")
  }

  test("jaccardForPairs matches ngramJaccard on the pairs it's given") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words live here now")).toDF("doc_id", "text")
    val all = Dedup.ngramJaccard(docs, minJaccard = 0.0,
        maxDf = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val byName = Dedup.jaccardForPairs(docs, pairs).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(byName((1L, 2L)) == all((1L, 2L)))
    assert(byName((1L, 3L)) == all.getOrElse((1L, 3L), 0.0))
  }

  test("nearDupClusters groups near-identical docs, leaves distinct ones alone") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 1
      (3L, "one two three four five six seven eight"),
      (4L, "unrelated totally separate content goes here")).toDF(
      "doc_id", "text")
    val got = Dedup.nearDupClusters(docs, minJaccard = 0.3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 1L && got(2L) == 1L) // clustered together
    assert(got(3L) == 3L && got(4L) == 4L) // singletons
  }

  test("connectedComponents: duplicate node ids collapse to one row on both paths") {
    val nodes = Seq(0L, 1L, 1L, 2L).toDF("id")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    for (gate <- Seq(2000000L, 0L)) {
      val got = Dedup.connectedComponents(nodes, pairs, driverMaxEdges = gate)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == Seq((0L, 0L), (1L, 1L), (2L, 1L)), s"gate=$gate")
    }
  }

  test("connectedComponents: driver and BSP paths agree on a random graph") {
    val rnd = new scala.util.Random(7)
    val nodes = (0L until 60L).toDF("id")
    val pairs = Seq.fill(40)((rnd.nextInt(60).toLong,
      rnd.nextInt(60).toLong)).toDF("id_a", "id_b")
    val a = Dedup.connectedComponents(nodes, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Dedup.connectedComponents(nodes, pairs, driverMaxEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  // ---- similarity --------------------------------------------------------

  private val dim = 8
  private def vec(seed: Int): Seq[Float] =
    (0 until dim).map(i => (math.sin(seed * 31 + i) * 10).toFloat)

  test("bruteForceTopK: self-similarity ranks first with cosine 1") {
    val embs = (0L until 20L).map(i => (i, vec(i.toInt), i.toInt % 3))
      .toDF("vec_id", "embedding", "label")
    val q = vec(5).map(_.toDouble).toArray
    val got = Similarity.bruteForceTopK(
      embs.withColumn("embedding", col("embedding").cast("array<double>")),
      typedlit(q), 3, dim = dim).collect()
    assert(got.head.getAs[Long]("vec_id") == 5L)
    assert(math.abs(got.head.getAs[Double]("cosine") - 1.0) < 1e-12)
  }

  test("unigramSegment: Viterbi picks the max-likelihood split, " +
    "substringVocab covers every char, ties resolve deterministically") {
    val vocab = Seq(("a", -1.0), ("b", -2.0), ("c", -1.5),
      ("ab", -2.5), ("bc", -3.0)).toDF("piece", "lnp")
    val words = Seq("ab", "abc", "b", "aab").toDF("word")
    val got = TextOps.unigramSegment(words, vocab, maxLen = 8)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getString(3))).toMap
    // "ab": piece ab (-2.5) beats a|b (-3.0)
    assert(got("ab") == ((1L, -2.5, "ab")))
    // "abc": ab|c and a|bc TIE at -4.0 — the argmax key (score, -j, …)
    // maximizes -j ⇒ the SMALLER last-split point j wins: a|bc (j=1)
    assert(got("abc") == ((2L, -4.0, "a|bc")))
    assert(got("b") == ((1L, -2.0, "b")))
    assert(got("aab") == ((2L, -3.5, "a|ab")))
    // substringVocab: every char kept with ln(count/total), so every
    // word of the corpus segments
    val sv = TextOps.substringVocab(Seq("hello", "help").toDF("word"),
      maxPiece = 3, topK = 5)
    val pieces = sv.collect().map(_.getString(0)).toSet
    assert(Set("h", "e", "l", "o", "p").subsetOf(pieces))
    val seg = TextOps.unigramSegment(
      Seq("hello", "help", "ohp").toDF("word"), sv, maxLen = 8,
      maxPiece = 3)
    assert(seg.count() == 3) // full char coverage ⇒ all segmentable
    // determinism run-over-run
    val again = TextOps.unigramSegment(words, vocab, maxLen = 8)
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(again == got.map { case (k, v) => k -> v._3 })
  }

  test("unigramSegment kernel ≡ relational DP (unigramSegmentPlan): " +
    "bit-equal scores, tie order, word drops — ties, metaspace and " +
    "supplementary alphabets, unreachable and over-maxLen words") {
    // tie-heavy vocab: equal lnp values force the (score, −j, piece,
    // segs) chain to decide; ▁ and 𝄞 (supplementary, 4-byte UTF-8)
    // pin code-point indexing and UTF-8-order string compares
    val vocab = Seq(
      ("a", -1.0), ("b", -1.0), ("c", -1.0), ("ab", -2.0),
      ("bc", -2.0), ("abc", -3.0), ("▁", -0.5), ("▁a", -1.5),
      ("é", -1.2), ("aé", -2.2), ("𝄞", -0.7), ("𝄞a", -1.7),
      ("d", -1.0)).toDF("piece", "lnp")
    val words = Seq("abc", "ab", "▁abc", "▁a", "aéb", "𝄞ab", "𝄞",
      "abq",          // 'q' missing from the vocab → both must drop it
      "abcabcabc",    // 9 chars > maxLen 8 → both must drop it
      "abcabcab"      // exactly maxLen
    ).toDF("word")
    for (maxPiece <- Seq(1, 2, 3, 4)) {
      val k = TextOps.unigramSegment(words, vocab, maxLen = 8,
        maxPiece = maxPiece).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getString(3))).toMap
      val p = TextOps.unigramSegmentPlan(words, vocab, maxLen = 8,
        maxPiece = maxPiece).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getString(3))).toMap
      assert(k == p, s"kernel vs plan diverged at maxPiece=$maxPiece")
      assert(!k.contains("abq") && !k.contains("abcabcabc"))
      if (maxPiece >= 2) assert(k.contains("abcabcab"))
    }
    // the corpus-realistic leg: a substringVocab seed over a word set
    // with repeated fragments (score ties everywhere) must agree too
    val ws2 = Seq("running", "runner", "run", "inning", "nine",
      "rerun", "runnerup").toDF("word")
    val sv = TextOps.substringVocab(ws2, maxPiece = 4, topK = 12)
    val k2 = TextOps.unigramSegment(ws2, sv, maxLen = 12).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).sortBy(_._1).toSeq
    val p2 = TextOps.unigramSegmentPlan(ws2, sv, maxLen = 12).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).sortBy(_._1).toSeq
    assert(k2 == p2)
    assert(k2.size == 7)
    // duplicate vocab pieces are a caller bug, rejected by name
    val err = intercept[IllegalArgumentException] {
      TextOps.unigramVocabBroadcast(spark,
        Seq(("a", -1.0), ("a", -2.0)))
    }
    assert(err.getMessage.contains("duplicate vocab piece 'a'"))
  }

  test("epochAllocation: water level fills to the budget, caps " +
    "saturate, shortfall flagged, allocation sums within rounding") {
    // caps: crawl 1x (100 tok), books 4x (50), code 2x (50)
    val srcs = Seq(("crawl", 100L, 1.0), ("books", 50L, 4.0),
      ("code", 50L, 2.0)).toDF("source", "n_tokens", "epoch_cap")
    // budget 250: crawl saturates at 100 (t>1); code at 100 (t>2);
    // remaining 50 on books → t = 50/50 + ... solve: t in [1,2]:
    // 100 + 100t = 250 → t = 1.5 ⇒ crawl 100, books 75, code 75
    val g1 = TextOps.epochAllocation(srcs, 250L).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getLong(4),
        r.getInt(5))).toMap
    assert(g1("crawl") == ((1.0, 100L, 1)))
    assert(g1("books") == ((1.5, 75L, 1)))
    assert(g1("code") == ((1.5, 75L, 1)))
    assert(g1.values.map(_._2).sum == 250L)
    // budget below every cap: pure proportional (t = 150/200 = 0.75)
    val g2 = TextOps.epochAllocation(srcs, 150L).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(g2.values.forall(_ == 0.75))
    // budget in the top segment: t in [2,4]: 200 + 50t = 330 → 2.6
    val g3 = TextOps.epochAllocation(srcs, 330L).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getLong(4))).toMap
    assert(g3("crawl") == ((1.0, 100L)))
    assert(g3("code") == ((2.0, 100L)))
    assert(g3("books")._1 == 2.6 && g3("books")._2 == 130L)
    // budget beyond total capacity (100+200+100=400): all saturate,
    // flagged unmet
    val g4 = TextOps.epochAllocation(srcs, 500L).collect()
      .map(r => (r.getString(0), r.getDouble(3), r.getInt(5)))
    assert(g4.forall(_._3 == 0))
    assert(g4.map(t => t._1 -> t._2).toMap ==
      Map("crawl" -> 1.0, "books" -> 4.0, "code" -> 2.0))
    // exact-capacity budget meets with every source at its cap
    val g5 = TextOps.epochAllocation(srcs, 400L).collect()
      .map(r => (r.getLong(4), r.getInt(5)))
    assert(g5.map(_._1).sum == 400L && g5.forall(_._2 == 1))
  }

  test("ngramDiversity: templated sources score low, distinct sources " +
    "score 1, short docs drop out, ratio is exact") {
    val docs = Seq(
      (1L, "tmpl", "click here now"), (2L, "tmpl", "click here now"),
      (3L, "tmpl", "click here now"), // 3 docs, 2 distinct of 6 bigrams
      (4L, "var", "alpha beta gamma"), (5L, "var", "delta epsilon zeta"),
      (6L, "var", "one"), // < n tokens: contributes nothing
      (7L, "var", null)).toDF("doc_id", "source", "text")
    val got = TextOps.ngramDiversity(docs, n = 2).orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == Seq(("tmpl", 6L, 2L, 2.0 / 6),
      ("var", 4L, 4L, 1.0)))
    // n=1 degenerates to token-level distinct ratio
    val uni = TextOps.ngramDiversity(docs, n = 1).orderBy("source")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(uni("tmpl") == 3L) // click, here, now
    intercept[IllegalArgumentException] {
      TextOps.ngramDiversity(docs, n = 0)
    }
  }

  test("unigramEmRound: piece counts conserve segmented token mass, " +
    "unwon pieces keep a finite floor, rounds chain") {
    val docs = Seq((1L, "ab ab cd"), (2L, "ab cd cd")).toDF("doc_id", "text")
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
    val vocab = TextOps.substringVocab(words, maxPiece = 2, topK = 4)
    val r1 = TextOps.unigramEmRound(docs, vocab)
    val got = r1.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // "ab"/"cd" appear 3x each as whole-word pieces (1 piece beats 2 on
    // any seed probs here); chars never win a segmentation → n = 0
    assert(got("ab")._1 == 3L && got("cd")._1 == 3L)
    assert(got("a")._1 == 0L && got("d")._1 == 0L)
    // mass conservation: Σ n·|piece| = segmented character mass = 12
    val mass = got.map { case (p, (n, _)) => n * p.length }.sum
    assert(mass == 12L)
    // smoothing floor: every lnp finite, unwon pieces share one floor
    assert(got.values.forall(v => !v._2.isNegInfinity))
    assert(got("a")._2 == got("d")._2)
    // chaining: round 2 consumes round 1's vocab without re-seeding
    val r2 = TextOps.unigramEmRound(docs, r1)
    assert(r2.collect().map(_.getLong(1)).sum == r1.collect()
      .map(_.getLong(1)).sum) // same segmented mass under the new probs
  }

  test("topoLevels: longest-chain depth on a DAG, dependencies-first " +
    "order, cycles flagged unstable, deeper-than-budget flagged") {
    import graft.ops.Graph
    // chain: 4 -> 3 -> 2 -> 1 (depth 3), diamond: 10 -> {2, 3}
    val edges = Seq((4L, 3L), (3L, 2L), (2L, 1L), (10L, 2L), (10L, 3L))
      .toDF("src", "dst")
    val got = Graph.topoLevels(edges, iterations = 4).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq((1L, 0L, 0), (2L, 1L, 0), (3L, 2L, 0),
      (4L, 3L, 0), (10L, 3L, 0))) // diamond takes the LONGEST path
    // sorting by (level, id) puts every dst before its srcs
    val lvl = got.map(g => g._1 -> g._2).toMap
    Seq((4L, 3L), (3L, 2L), (2L, 1L), (10L, 2L), (10L, 3L)).foreach {
      case (s, d) => assert(lvl(s) > lvl(d)) }
    // a cycle keeps rising and is flagged; DAG nodes stay stable
    val withCycle = edges.union(Seq((7L, 8L), (8L, 7L)).toDF("src", "dst"))
    val c = Graph.topoLevels(withCycle, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(c(7L) == 1 && c(8L) == 1)
    assert(Seq(1L, 2L, 3L, 4L, 10L).forall(c(_) == 0))
    // a chain deeper than the budget is also flagged, not silently capped
    val deep = (1L until 8L).map(i => (i + 1, i)).toDF("src", "dst")
    val dres = Graph.topoLevels(deep, iterations = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2)))
      .toMap
    assert(dres(8L)._1 == 3L && dres(8L)._2 == 1) // capped AND flagged
    assert(dres(3L) == ((2L, 0))) // within budget: exact and stable
  }

  test("hardNegatives: wrong-label only, same-label twin cannot crowd " +
    "the top-k, planes=0 is exact, ties deterministic") {
    // anchor 0 (label A) has: an IDENTICAL twin with label A (id 1), a
    // near-identical wrong-label vector (id 2, label B), and a far
    // wrong-label vector (id 3). k=1 must pick id 2 — a post-rank label
    // filter would have returned nothing (the twin takes rank 1).
    val base = Array.fill(8)(0.0); base(0) = 1.0
    val near = base.clone(); near(1) = 0.05
    val far = Array.fill(8)(0.0); far(1) = 1.0
    val embs = Seq(
      (0L, base.toSeq, "A"), (1L, base.toSeq, "A"),
      (2L, near.toSeq, "B"), (3L, far.toSeq, "B"))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(embs, k = 1, planes = 0, dim = 8)
      .orderBy("anchor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    spark.catalog.clearCache()
    assert(got.map(g => g._1 -> g._2).toMap == Map(
      0L -> 2L, // the near wrong-label vector, NOT the same-label twin
      1L -> 2L,
      2L -> 0L, // near is closest to base (tie 0/1 → lowest id)
      3L -> 0L)) // far's best wrong-label is orthogonal-ish; tie → id 0
    // every pair really is wrong-label
    val all = Similarity.hardNegatives(embs, k = 3, planes = 0, dim = 8)
      .collect()
    spark.catalog.clearCache()
    val lab = Map(0L -> "A", 1L -> "A", 2L -> "B", 3L -> "B")
    all.foreach(r =>
      assert(lab(r.getLong(0)) != lab(r.getLong(1))))
    // the rank cap plans as a WindowGroupLimit (map-side pre-cap)
    val plan = Similarity.hardNegatives(embs, k = 1, planes = 0, dim = 8)
      .queryExecution.sparkPlan.toString
    spark.catalog.clearCache()
    assert(plan.contains("WindowGroupLimit"), s"no group limit:\n$plan")
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(embs, k = 0)
    }
  }

  test("matryoshkaTopK: full-shortlist degenerates to brute force, " +
    "shortlist bounds the candidate set, prefix stage is load-bearing") {
    val embs = (0L until 30L).map(i => (i, vec(i.toInt), i.toInt % 3))
      .toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val q = vec(5).map(_.toDouble).toArray
    // shortlist = corpus size: stage 2 sees everything ⇒ == brute force
    val full = Similarity.matryoshkaTopK(embs, typedlit(q), k = 5,
      shortlist = 30, prefixDim = dim / 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(embs, typedlit(q), 5, dim = dim)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.toSeq == brute.toSeq)
    // the query's own vector survives a prefix shortlist: its prefix
    // cosine is exactly 1, so it cannot be shortlisted out
    val tight = Similarity.matryoshkaTopK(embs, typedlit(q), k = 3,
      shortlist = 5, prefixDim = 8).collect()
    assert(tight.head.getLong(0) == 5L &&
      math.abs(tight.head.getDouble(1) - 1.0) < 1e-12)
    // results come from the prefix shortlist only
    val short5 = Similarity.matryoshkaTopK(embs, typedlit(q), k = 5,
      shortlist = 5, prefixDim = 8).collect().map(_.getLong(0)).toSet
    val shortIds = embs.select(col("vec_id"),
        Similarity.cosine(slice(col("embedding"), 1, 8),
          typedlit(q.take(8)), 8).as("pc"))
      .orderBy(col("pc").desc, col("vec_id"))
      .limit(5).collect().map(_.getLong(0)).toSet
    assert(short5 == shortIds)
    intercept[IllegalArgumentException] {
      Similarity.matryoshkaTopK(embs, typedlit(q), k = 10, shortlist = 5,
        prefixDim = 8)
    }
    intercept[IllegalArgumentException] {
      Similarity.matryoshkaTopK(embs, typedlit(q), k = 1, shortlist = 5,
        prefixDim = 0)
    }
  }

  test("embeddingNearDup with label blocking finds in-label pairs only") {
    val embs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f), 0),
      (1L, Seq(1f, 0.01f, 0f, 0f, 0f, 0f, 0f, 0f), 0), // near-dup of 0
      (2L, Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f), 1), // same vec, other label
      (3L, Seq(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val got = Dedup.embeddingNearDup(embs, minCosine = 0.9,
      blockCol = Some("label"), dim = 8).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSeq
    assert(got == Seq((0L, 1L)))
  }

  // ---- text --------------------------------------------------------------

  test("kmeans recovers two well-separated clusters; assignment is map-only") {
    // two tight groups on opposite axes of an 8-dim space
    def v(axis: Int, jitter: Double): Seq[Float] =
      (0 until dim).map(i => (if (i == axis) 10.0 + jitter else jitter / 10)
        .toFloat)
    val embs = ((0L until 5L).map(i => (i, v(0, i * 0.1), 0)) ++
      (5L until 10L).map(i => (i, v(4, (i - 5) * 0.1), 0))).toDF(
      "vec_id", "embedding", "label")
    val got = Similarity.kmeans(embs, k = 2, iters = 3, dim = dim)
    val byCluster = got.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster"))
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted.toSeq).toMap
    assert(byCluster.values.toSet ==
      Set(Seq(0L, 1L, 2L, 3L, 4L), Seq(5L, 6L, 7L, 8L, 9L)))
    // the assignment stage must not shuffle or join the corpus
    val plan = got.queryExecution.sparkPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"assignment is not map-only:\n$plan")
  }

  test("kmeans iteration loop reads the corpus from cache: the source is " +
    "scanned twice total (materialize + final assign), not once per iter") {
    val n = 40
    // count SOURCE evaluations with an accumulator-instrumented column:
    // every scan of the input evaluates the udf once per row, a cache hit
    // evaluates nothing
    val acc = spark.sparkContext.longAccumulator("corpus-scans")
    val tick = udf { (id: Long) => acc.add(1); id }
    def v(axis: Int, jitter: Double): Seq[Float] =
      (0 until dim).map(i => (if (i == axis) 10.0 + jitter else jitter / 10)
        .toFloat)
    val embs = ((0L until n / 2).map(i => (i, v(0, i * 0.01))) ++
      (n / 2L until n).map(i => (i, v(4, (i - n / 2) * 0.01))))
      .toDF("raw_id", "embedding")
      .withColumn("vec_id", tick(col("raw_id"))).drop("raw_id")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val got = Similarity.kmeans(embs, k = 2, iters = 4, dim = dim)
    val rows = got.count()
    assert(rows == n)
    // persisted loop: scan 1 materializes the (id, vector) cache at seed
    // collection, iterations 1-3 are cache hits, scan 2 is the returned
    // final assignment over the caller's frame. Unpersisted, iters=4
    // would cost 5 source scans (5n evaluations).
    assert(acc.value <= 2L * n,
      s"kmeans rescanned the corpus: ${acc.value} evals for n=$n " +
        "(expected <= 2n — is the iteration slice persisted?)")
    // the iteration cache must not outlive the call
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore,
      "kmeans leaked its iteration cache")
  }

  test("TopK aggregator matches a sort-and-take across partitions") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(500)((rnd.nextInt(4).toLong,
      rnd.nextInt(100) / 10.0, rnd.nextLong(1000)))
    val df = rows.toDF("g", "score", "id").repartition(7)
    val agg = graft.ops.Aggregators.topK(3)
    val got = df.groupBy("g").agg(agg(col("score"), col("id")).as("top"))
      .collect().map(r => r.getAs[Long]("g") ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getDouble(0), s.getLong(1)))).toMap
    // duplicates of the same (score, id) may both enter the top list;
    // the reference keeps duplicates too
    val expectDup = rows.groupBy(_._1).view.mapValues(_
      .map(t => (t._2, t._3))
      .sortBy { case (s, id) => (-s, id) }.take(3)).toMap
    got.foreach { case (g, tops) => assert(tops == expectDup(g), s"g=$g") }
  }

  test("TopK treats -0.0 and +0.0 as equal (Spark sort semantics)") {
    // -0.0 scores arise from legitimate float dot products; raw
    // Double.compare would rank +0.0 strictly above -0.0 and diverge
    // from orderBy / the DuckDB oracle, which break ties by id
    val df = Seq((1L, -0.0, 5L), (1L, 0.0, 2L), (1L, 0.0, 9L),
      (1L, -1.0, 1L)).toDF("g", "score", "id").repartition(3)
    val agg = graft.ops.Aggregators.topK(2)
    val top = df.groupBy("g").agg(agg(col("score"), col("id")).as("top"))
      .head().getSeq[org.apache.spark.sql.Row](1)
      .map(s => (s.getDouble(0), s.getLong(1)))
    // ids 2 then 5 — zero-sign must not influence rank
    assert(top.map(_._2) == Seq(2L, 5L))
  }

  test("batchTopK agrees with bruteForceTopK per query") {
    val embs = (0L until 30L).map(i => (i, vec(i.toInt), i.toInt % 3))
      .toDF("vec_id", "embedding", "label")
    val queries = embs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val batch = Similarity.batchTopK(embs, queries, k = 4, dim = dim)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rk")) ->
        r.getAs[Long]("vec_id")).toMap
    for (qid <- Seq(0L, 1L)) {
      val qv = embs.filter(col("vec_id") === qid)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val brute = Similarity.bruteForceTopK(embs, typedlit(qv), 4, dim = dim)
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .collect().map(_.getAs[Long]("vec_id"))
      brute.zipWithIndex.foreach { case (id, i) =>
        assert(batch((qid, i + 1)) == id, s"q=$qid rk=${i + 1}")
      }
    }
  }

  test("semDeDup keeps one representative per semantic-duplicate group") {
    // vec 1 ≈ vec 0 (same direction), vec 2 orthogonal, all in block 0;
    // vec 3 alone in block 1
    def axis(a: Int, scale: Double): Seq[Float] =
      (0 until dim).map(i => (if (i == a) scale else 0.0).toFloat)
    val embs = Seq(
      (0L, axis(0, 1.0), 0), (1L, axis(0, 2.0), 0), (2L, axis(3, 1.0), 0),
      (3L, axis(0, 1.0), 1)).toDF("vec_id", "embedding", "block")
    val got = Dedup.semDeDup(embs, blockCol = "block", minCosine = 0.9,
        dim = dim)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("rep_id"), r.getAs[Boolean]("keep")))).toMap
    assert(got(0L) == ((0L, true)) && got(1L) == ((0L, false)))
    assert(got(2L) == ((2L, true)) && got(3L) == ((3L, true)))
  }

  test("token counts, stopword ratio, langid") {
    val df = Seq(
      "the cat sat on the mat",
      "lorem ipsum dolor sit amet consectetur").toDF("text")
    val got = TextOps.profile(df, "text").collect()
    assert(got(0).getAs[Int]("n_tokens") == 6)
    assert(math.abs(got(0).getAs[Double]("stopword_ratio") - 3.0 / 6) < 1e-12)
    assert(got(0).getAs[String]("lang_pred") == "en")
    assert(got(1).getAs[String]("lang_pred") == "other")
  }

  test("approx distinct and quantiles stay within their error bounds") {
    import graft.ops.Stats
    val n = 5000
    val df = (0 until n).map(i => (i.toLong % 1000, i.toDouble))
      .toDF("k", "v")
    val ad = df.agg(Stats.approxDistinct(col("k"), 0.05)).head().getLong(0)
    assert(math.abs(ad - 1000) <= 1000 * 0.15, s"approx distinct $ad")
    val q = df.agg(Stats.approxQuantiles(col("v"), Seq(0.5), 10000))
      .head().getSeq[Double](0)
    assert(math.abs(q.head - n / 2.0) <= n / 100.0, s"approx median $q")
  }

  test("IntervalUnion aggregator matches mergeIntervals sum across partitions") {
    import graft.ops.{Aggregators, Windows}
    // overlapping, touching, disjoint, duplicate — across 2 keys
    val ivs = Seq(
      ("a", 0L, 10L), ("a", 5L, 15L), ("a", 15L, 20L), ("a", 30L, 40L),
      ("a", 0L, 10L), ("b", 100L, 200L))
      .toDF("k", "s_us", "e_us")
      .repartition(5) // force the merge() (partial-combine) path
    val cov = Aggregators.intervalCoverageUs
    val got = ivs.groupBy("k").agg(cov(col("s_us"), col("e_us"))
        .as("covered_us"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("covered_us"))
      .toMap
    assert(got == Map("a" -> 30L, "b" -> 100L)) // [0,20]∪[30,40]; [100,200]

    // relational cross-check on timestamps
    val asTs = ivs.select(col("k"),
      timestamp_micros(col("s_us")).as("start_time"),
      timestamp_micros(col("e_us")).as("end_time"))
    val rel = Windows.mergeIntervals(asTs, partitionCols = Seq("k"))
      .select(col("k"), (unix_micros(col("end_time")) -
        unix_micros(col("start_time"))).as("len"))
      .groupBy("k").agg(sum("len").as("covered_us"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("covered_us"))
      .toMap
    assert(rel == got)
  }

  test("scrubPii masks emails, phone suffixes, and 16-digit runs") {
    val df = Seq("mail bob.smith+x@corp.example.co or call 555-0199 " +
      "card 1234567812345678 end").toDF("text")
    val got = df.select(TextOps.scrubPii(col("text")).as("s"))
      .head().getString(0)
    assert(got == "mail <EMAIL> or call <PHONE> card <CARD> end")
  }

  test("hashBucket/hashSplit: deterministic, in-range, ~80/10/10") {
    val df = (0L until 1000L).toDF("id")
    val rows = df.select(col("id"), TextOps.hashBucket(col("id")).as("b"),
      TextOps.hashSplit(col("id")).as("s")).collect()
    assert(rows.forall(r => r.getAs[Long]("b") >= 0 &&
      r.getAs[Long]("b") < 100))
    val bySplit = rows.groupBy(_.getAs[String]("s")).view.mapValues(_.length)
    assert(bySplit("train") > 700 && bySplit("train") < 900)
    assert(bySplit("val") > 50 && bySplit("test") > 50)
    // stable across evaluations
    val again = df.select(TextOps.hashBucket(col("id"))).collect()
      .map(_.getLong(0)).toSeq
    assert(again == rows.map(_.getAs[Long]("b")).toSeq)
  }

  test("HashBucketCounts kernel: hashFeatures == the former " +
    "explode+hashBucket+groupBy formulation on a unicode/empty/null zoo") {
    val docs = Seq(
      (1L, "a b a café ＡＢＣ  x"), // doubled space
      (2L, ""),                                      // zero tokens
      (3L, "7919 -3.5 7919 7919 the the the the"),
      (4L, null.asInstanceOf[String]),
      (5L, "   "),                                   // only empties
      (6L, (1 to 300).map(i => s"t${i % 7}").mkString(" "))
    ).toDF("doc_id", "text")
    for (nb <- Seq(2, 64, 97)) {
      val kernel = TextOps.hashFeatures(docs, nb)
        .orderBy("doc_id", "bucket").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val chain = docs.filter(col("text").isNotNull)
        .select(col("doc_id"),
          explode(TextOps.wsTokens(lower(col("text")))).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("doc_id"),
          TextOps.hashBucket(col("token"), nb).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("doc_id", "bucket").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(kernel == chain, s"numBuckets=$nb")
    }
  }

  test("Md5Prefix kernel == conv(substring(md5(x),1,L),16,10) chain on a " +
    "null/unicode/numeric zoo, L in {1, 8, 15}") {
    import graft.functions.HashExpressions.md5Prefix
    val vals = Seq("", "a", "café ＡＢＣ", "7919", "-3.5",
      "a longer string with spaces\tand\nnewlines",
      " nul byte", null.asInstanceOf[String])
    val df = vals.toDF("s")
    for (l <- Seq(1, 8, 15)) {
      val rows = df.select(
        md5Prefix(col("s"), l).as("kernel"),
        conv(substring(md5(col("s")), 1, l), 16, 10).cast("long")
          .as("chain")).collect()
      rows.foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1),
          s"null mismatch at L=$l: $r")
        if (!r.isNullAt(0))
          assert(r.getLong(0) == r.getLong(1), s"L=$l: $r")
      }
    }
    // non-string keys route through the same cast("string") as before
    val nums = (0L until 50L).toDF("id")
    val pair = nums.select(TextOps.hashBucket(col("id"), 97).as("k"),
      pmod(conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(97L)).as("c")).collect()
    assert(pair.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("Md5PrefixHex kernel == substring(md5(x),1,L) on the same zoo, " +
    "L in {1, 8, 32}") {
    import graft.functions.HashExpressions.md5PrefixHex
    val vals = Seq("", "a", "café ＡＢＣ", "7919", "-3.5",
      "a longer string with spaces\tand\nnewlines",
      " nul byte", null.asInstanceOf[String])
    val df = vals.toDF("s")
    for (l <- Seq(1, 8, 32)) {
      val rows = df.select(
        md5PrefixHex(col("s"), l).as("kernel"),
        substring(md5(col("s")), 1, l).as("chain")).collect()
      rows.foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch at L=$l: $r")
        if (!r.isNullAt(0))
          assert(r.getString(0) == r.getString(1), s"L=$l: $r")
      }
    }
  }

  test("duplicateNgramFraction: repeated bigrams raise it, edge cases are 0") {
    val df = Seq(
      (1L, "a b a b a"),     // bigrams: ab, ba, ab, ba -> 2/4 duplicates
      (2L, "all words differ here"),
      (3L, "x"),             // too short for a bigram
      (4L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val got = df.select(col("id"),
        TextOps.duplicateNgramFraction(col("text"), 2).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 0.5 && got(2L) == 0.0 && got(3L) == 0.0 &&
      got(4L) == 0.0)
  }

  test("tfidfTopTerms ranks rare terms above ubiquitous ones") {
    val df = Seq(
      (1L, "common rare"),
      (2L, "common other"),
      (3L, "common another")).toDF("doc_id", "text")
    val top1 = TextOps.tfidfTopTerms(df, k = 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("term")).toMap
    // equal tf: the corpus-wide term takes the smoothed-idf floor (ln 1 + 1)
    // while the unique term gets ln(4/2) + 1 — rare must outrank common
    assert(top1(1L) == "rare")
  }

  test("decontaminate drops train docs sharing an 8-gram with eval") {
    val eight = "one two three four five six seven eight"
    val train = Seq(
      (1L, s"prefix $eight suffix"),            // contaminated
      (2L, "totally unrelated training text"),  // clean
      (3L, null.asInstanceOf[String])           // no shingles -> clean
    ).toDF("doc_id", "text")
    val evalSet = Seq((100L, s"$eight trailing words")).toDF("doc_id", "text")
    val kept = TextOps.decontaminate(train, evalSet).collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(kept == Seq(2L, 3L))
  }

  test("topKPerGroup keeps k rows per group with deterministic ranks") {
    val df = Seq(("a", 1L, 10), ("a", 2L, 30), ("a", 3L, 30), ("a", 4L, 5),
      ("b", 5L, 1)).toDF("g", "id", "v")
    val got = graft.ops.Windows.topKPerGroup(df, Seq("g"),
      Seq(col("v").desc, col("id").asc), 2)
      .orderBy("g", "rk").collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("id"),
        r.getAs[Int]("rk")))
    assert(got.toSeq == Seq(("a", 2L, 1), ("a", 3L, 2), ("b", 5L, 1)))
  }

  test("shingles produce n-grams with whole-text fallback") {
    val df = Seq("a b c d", "a b").toDF("text")
    val got = df.select(TextOps.shingles(col("text"), 3)).collect()
      .map(_.getSeq[String](0).toSeq)
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq("a b"))
  }

  // ---- multimodal --------------------------------------------------------

  test("multimodal: PNG encode → ImageIO decode round-trips exact stats") {
    val id = 7L; val frame = 2
    val st = Multimodal.decodeImage(Multimodal.encodePng(id, frame))
    val w = Multimodal.imgWidth(id); val h = Multimodal.imgHeight(id)
    assert(st.width == w && st.height == h)
    def sum(c: Int): Long =
      (for { y <- 0 until h; x <- 0 until w }
        yield Multimodal.pixel(id, frame, c, x, y).toLong).sum
    assert(st.sumR == sum(0) && st.sumG == sum(1) && st.sumB == sum(2))
  }

  test("multimodal: WAV encode → AudioSystem decode round-trips samples") {
    val id = 11L
    val st = Multimodal.decodeWav(Multimodal.encodeWav(id))
    val n = Multimodal.audioSamples(id)
    assert(st.nSamples == n)
    val samples = (0 until n).map(Multimodal.audioSample(id, _))
    assert(st.mean == samples.sum.toDouble / n)
    assert(st.meanAbs == samples.map(s => math.abs(s).toLong).sum.toDouble / n)
    assert(st.rms ==
      math.sqrt(samples.map(s => s.toLong * s).sum.toDouble / n))
  }

  test("multimodal: checked-in PNG fixture decodes to known pixel stats") {
    // fixture = encodePng(42, 0) committed at test/resources; expected
    // sums are hand-derived from the pixel formula (no code under test
    // involved): 7x4, Σ(42(c+1) + 3x + 7y) = 1722 / 2898 / 4074
    val in = getClass.getResourceAsStream("/graft/fixture_img.png")
    assert(in != null, "fixture_img.png missing from test resources")
    val bytes = in.readAllBytes(); in.close()
    val st = Multimodal.decodeImage(bytes)
    assert(st.width == 7 && st.height == 4)
    assert(st.sumR == 1722L && st.sumG == 2898L && st.sumB == 4074L)
    assert(st.meanR == 1722.0 / 28)
    // the WebP boundary is explicit, not ImageIO's opaque null: a RIFF
    // container tagged WEBP names the missing decoder and the remedy
    val webp = "RIFF".getBytes("US-ASCII") ++ Array[Byte](0, 1, 0, 0) ++
      "WEBPVP8 ".getBytes("US-ASCII")
    val ex = intercept[IllegalArgumentException](
      Multimodal.decodeImage(webp))
    assert(ex.getMessage.contains("WebP") &&
      ex.getMessage.contains("ImageIO"))
  }

  test("multimodal JPEG: decodeImage bit-parity with a directly-driven " +
    "ImageIO reader, exact dims, channel means within the lossy bound; " +
    "the checked-in fixture decodes") {
    // the lossy-codec oracle strategy (VERDICT r11 #2): dimensions are
    // decoder-independent and exact; decoded pixels are decoder-defined,
    // so the gate is bit-parity against an INDEPENDENT read of the same
    // bytes plus a tolerance bound vs the synthesis-formula means
    // (measured max mean error 7.2 at quality 0.9 over 200 images)
    for (id <- Seq(0L, 42L, 99L, 300L)) {
      val bytes = Multimodal.encodeJpeg(id, 0, 0.9f)
      val st = Multimodal.decodeImage(bytes)
      assert(st.width == Multimodal.imgWidth(id) &&
        st.height == Multimodal.imgHeight(id))
      // directly-driven reader: same bytes, independent decode loop
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
      }
      assert(st.sumR == sr && st.sumG == sg && st.sumB == sb,
        s"decodeImage diverges from direct ImageIO for doc $id")
      val n = st.width.toLong * st.height
      def fm(c: Int): Double = (for {
        y <- 0 until st.height; x <- 0 until st.width }
        yield Multimodal.pixel(id, 0, c, x, y).toLong).sum.toDouble / n
      assert(math.abs(st.meanR - fm(0)) <= 16 &&
        math.abs(st.meanG - fm(1)) <= 16 &&
        math.abs(st.meanB - fm(2)) <= 16,
        s"doc $id means out of lossy bounds")
    }
    val in = getClass.getResourceAsStream("/graft/fixture_img.jpg")
    assert(in != null, "fixture_img.jpg missing from test resources")
    val fb = in.readAllBytes(); in.close()
    val fs = Multimodal.decodeImage(fb)
    assert(fs.width == 7 && fs.height == 4) // encodeJpeg(42, 0) dims
  }

  test("multimodal JPEG: dhash56 survives a lossy re-encode of a smooth " +
    "image; identical JPEG payloads collapse in imageDupGroups; E7 " +
    "curates a mixed PNG/JPEG corpus") {
    // smooth gradient (the real-photo regime — the mod-256 synthesis
    // wraps are adversarial noise where gradient signs legitimately
    // flip): png and jpeg encodes of the SAME pixels must dHash equal
    val img = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32) {
      val r = x * 255 / 31; val g = y * 255 / 31
      val b = (x + y) * 255 / 62
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val pb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", pb)
    val jw = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val jb = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(jb)
    jw.setOutput(ios)
    val wp = jw.getDefaultWriteParam
    wp.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    wp.setCompressionQuality(0.9f)
    jw.write(null, new javax.imageio.IIOImage(img, null, null), wp)
    jw.dispose(); ios.close()
    assert(Multimodal.dhash56(pb.toByteArray) ==
      Multimodal.dhash56(jb.toByteArray),
      "smooth-image dHash changed under JPEG re-encode")

    // mixed corpus: ids 0..17 → images 0,3,6,9,12,15 (jpeg: 0,6,12);
    // append an identical-payload copy of jpeg asset 6 under a new id —
    // deterministic encode ⇒ identical bytes ⇒ identical fp ⇒ collapses
    val mixed = Multimodal.synthesizeAssetsMixed(
      (0L until 18L).toDF("doc_id"))
    assert(mixed.filter(col("modality") === "image")
      .select(col("meta.codec")).distinct().collect()
      .map(_.getString(0)).toSet == Set("png", "jpeg"))
    val dup = mixed.filter(col("asset_id") === 6L)
      .withColumn("asset_id", lit(1000L))
    val groups = Multimodal.imageDupGroups(mixed.unionByName(dup))
    // the two identical payloads share a group (other synthesis images
    // may too — they are all small linear gradients, which dHash
    // correctly sees as perceptual near-identicals); the copy can never
    // be the keeper (min-id policy)
    val g6 = groups.filter(col("id").isin(6L, 1000L))
      .select("id", "keep_id", "is_keeper").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(g6(6L)._1 == g6(1000L)._1, "copy not grouped with original")
    assert(!g6(1000L)._2, "the higher-id copy must not be the keeper")
    // E7 on the mixed corpus: the duplicate jpeg copy drops; the group
    // keeper survives; output is a subset of the input
    val curated = graft.pipeline.Pipelines.curateAssets(
      mixed.unionByName(dup))
    assert(curated.filter(col("asset_id") === 1000L).count() == 0)
    assert(curated.filter(col("asset_id") === g6(6L)._1).count() == 1)
    assert(curated.count() <= 19 && curated.count() >= 13) // 6a+6v+≥1img
    spark.catalog.clearCache() // imageDupGroups caches fingerprints
  }

  test("extractFeatures: real per-modality decoded stats") {
    val assets = Multimodal.synthesizeAssets(Seq(0L, 1L, 2L).toDF("doc_id"))
    val got = Multimodal.extractFeatures(assets).orderBy("asset_id").collect()
    assert(got.length == 3)
    // doc 0 → image 4x4; m0 = mean of (3x + 7y) % 256 over 16 pixels
    val img0 = got(0)
    assert(img0.getAs[String]("modality") == "image")
    assert(img0.getAs[Long]("width") == 4L &&
      img0.getAs[Long]("height") == 4L)
    val exp0 = (for { y <- 0 until 4; x <- 0 until 4 }
      yield Multimodal.pixel(0L, 0, 0, x, y)).sum / 16.0
    assert(img0.getAs[Double]("m0") == exp0)
    // doc 1 → audio with 64 + 1 = 65 samples
    val aud = got(1)
    assert(aud.getAs[String]("modality") == "audio")
    assert(aud.getAs[Long]("width") == 65L && aud.getAs[Long]("height") == 1L)
    val s1 = (0 until 65).map(Multimodal.audioSample(1L, _))
    assert(aud.getAs[Double]("m0") == s1.sum.toDouble / 65)
    // doc 2 → video; q34 reports frame 0 = the image formula at frame 0
    val vid = got(2)
    assert(vid.getAs[String]("modality") == "video")
    assert(vid.getAs[Long]("width") == Multimodal.imgWidth(2L).toLong)
  }

  test("resizeImages: nearest-neighbor sampling rule, exact resized stats") {
    val assets = Multimodal.synthesizeAssets(Seq(0L, 3L).toDF("doc_id"))
    val got = Multimodal.resizeImages(assets, targetW = 8, targetH = 8)
      .orderBy("asset_id").collect()
    assert(got.length == 2 && got.forall(r =>
      r.getAs[Long]("width") == 8L && r.getAs[Long]("height") == 8L))
    // expected means from the formula at the sampled source coordinates
    def exp(id: Long, c: Int): Double = {
      val w = Multimodal.imgWidth(id); val h = Multimodal.imgHeight(id)
      (for { y <- 0 until 8; x <- 0 until 8 }
        yield Multimodal.pixel(id, 0, c, x * w / 8, y * h / 8).toLong)
        .sum / 64.0
    }
    assert(got(0).getAs[Double]("m0") == exp(0L, 0))
    assert(got(1).getAs[Double]("m2") == exp(3L, 2))
  }

  test("audioFrames: fixed frames over decoded PCM, partial tail kept") {
    // doc 7 → audio? 7 % 3 == 1 → yes; n = 64 + 7 = 71 samples
    val assets = Multimodal.synthesizeAssets(Seq(7L).toDF("doc_id"))
    val got = Multimodal.audioFrames(assets, frameSamples = 32)
      .orderBy("frame_idx").collect()
    // 71 = 32 + 32 + 7
    assert(got.map(_.getAs[Long]("n_samples")).toSeq == Seq(32L, 32L, 7L))
    val tail = (64 until 71).map(Multimodal.audioSample(7L, _))
    assert(got(2).getAs[Double]("mean") == tail.sum.toDouble / 7)
    assert(got(2).getAs[Double]("rms") ==
      math.sqrt(tail.map(s => s.toLong * s).sum.toDouble / 7))
  }

  test("sampleFrames: seeks + decodes the right stored frame per position") {
    val assets = Multimodal.synthesizeAssets(Seq(2L, 0L).toDF("doc_id"))
    // doc 2 → video with 3 + 2 = 5 frames / 5000 ms; everyMs 2000 →
    // positions 0, 2000, 4000 → stored frames 0, 2, 4
    val got = Multimodal.sampleFrames(assets, everyMs = 2000L, maxFrames = 8)
      .orderBy("frame_ms").collect()
    assert(got.forall(_.getAs[Long]("asset_id") == 2L))
    assert(got.map(_.getAs[Long]("frame_ms")).toSeq ==
      Seq(0L, 2000L, 4000L))
    val w = Multimodal.imgWidth(2L); val h = Multimodal.imgHeight(2L)
    def meanAll(frame: Int): Double =
      (for { c <- 0 until 3; y <- 0 until h; x <- 0 until w }
        yield Multimodal.pixel(2L, frame, c, x, y).toLong).sum /
        (3.0 * w * h)
    assert(got(1).getAs[Double]("mean_all") == meanAll(2))
    assert(got(2).getAs[Double]("mean_all") == meanAll(4))
    // maxFrames caps the grid
    val capped = Multimodal.sampleFrames(assets, everyMs = 1000L,
      maxFrames = 2).collect()
    assert(capped.length == 2)
  }

  test("rollingFingerprints: shared passages share fingerprints across offsets") {
    val passage = "the quick brown fox jumps over the lazy dog " * 4
    val df = Seq(
      "PREFIX padding words here. " + passage,
      passage + " totally different suffix material",
      "unrelated content entirely about catalyst planner internals x y z"
    ).toDF("text")
    val got = df.select(TextOps.rollingFingerprints(col("text")).as("f"))
      .collect().map(_.getSeq[String](0).toSet)
    // content-defined sampling → the common passage yields common hashes
    assert((got(0) intersect got(1)).nonEmpty)
    assert((got(0) intersect got(2)).isEmpty)
  }

  test("duplicatedShingleFraction: shared template scores, unique doesn't") {
    val template = "standard footer text appears in every page here"
    val docs = Seq(
      (1L, "unique first content words " + template),
      (2L, "second page body differs completely " + template),
      (3L, "totally original document with no repeats whatsoever"))
      .toDF("doc_id", "text")
    val got = graft.dedup.Dedup.duplicatedShingleFraction(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // docs 1 and 2 share the template's shingles; doc 3 shares none
    assert(got(1L)._1 > 0 && got(2L)._1 > 0)
    assert(got(1L)._2 > 0.4 && got(1L)._2 < 1.0)
    assert(got(3L) == ((0L, 0.0)))
  }

  test("jaroWinkler: textbook scores, boost threshold, code-point " +
    "transpositions") {
    import graft.functions.HashExpressions.jaroWinkler
    val df = Seq(
      ("martha", "marhta"), ("dixon", "dicksonx"), ("abc", "xyz"),
      ("abcdzzzzzz", "abcdyyyyyy"), // jaro 0.6 < 0.7 boost threshold
      ("统计学习", "统学计习")).toDF("a", "b")
    val got = df.select(round(jaroWinkler(col("a"), col("b")), 6))
      .collect().map(_.getDouble(0))
    assert(got(0) == 0.961111) // the Winkler paper's example
    assert(got(1) == 0.813333)
    assert(got(2) == 0.0) // zero matches
    // shares a 4-char prefix but jaro 0.6 < 0.7 → NO prefix bonus (the
    // DuckDB-compatible boost-threshold variant; the unboosted variant
    // would return 0.76 here)
    assert(got(3) == 0.6)
    // CJK swap: one transposition over code points, prefix length 1
    // → jaro 11/12, jw = 11/12 + 0.1·(1/12) = 0.925
    assert(got(4) == 0.925)
  }

  test("substringDedup: owner keeps the boilerplate block, later docs " +
    "lose it; broadcast and relational paths agree (incl. non-ASCII)") {
    val block = "0123456789abcdef0123456789abcdef" // exactly one 32-chunk
    val docs = Seq(
      (5L, block + "tail of the owner doc"),
      (9L, block + "different trailing content"),
      (7L, "completely original text here"),
      (3L, "统计模型的基本概念与术语介绍第一章机器学习方法概述统计模型的基本概念与术语介绍第一章机器学习方法概述额外"),
      (11L, "")).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.substringDedup(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // block appears in docs 5 and 9 → owner is 5 (min id); doc 9's copy
    // is removed, everything else survives verbatim
    assert(got(5L) == ((2L, 2L, block + "tail of the owner doc")))
    assert(got(9L) == ((2L, 1L, "different trailing content")))
    assert(got(7L) == ((1L, 1L, "completely original text here")))
    assert(got(3L)._1 == 2L && got(3L)._2 == 2L) // 51 cp → 2 chunks, kept
    assert(got(11L) == ((0L, 0L, ""))) // empty text → empty rewrite
    // parity: maxDupChunks = 0 forces the relational fallback; both paths
    // must agree row-for-row (also locks the kernel's code-point chunking
    // to Spark's character-based substr on the CJK doc)
    val fb = graft.dedup.Dedup.substringDedup(docs, maxDupChunks = 0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(fb == got)
    // digest-keyed 100 TB mode: identical output on both the broadcast
    // kernel path and the relational fallback (8-byte shuffle keys)
    val dg = graft.dedup.Dedup.substringDedup(docs, digestKeys = true)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(dg == got)
    val dgFb = graft.dedup.Dedup.substringDedup(docs, maxDupChunks = 0,
        digestKeys = true)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(dgFb == got)
  }

  test("dedupChunksWithinDoc: first occurrence survives, later repeats " +
    "drop, ragged tail is its own chunk") {
    val df = Seq(
      (1L, "abcdefabcdefxyzxyz"), // [abcdef, abcdef, xyzxyz]
      (2L, "aaaaaa"),
      (3L, ""),
      (4L, "abcdefabc")) // tail "abc" ≠ "abcdef" → both kept
      .toDF("doc_id", "text")
    val got = graft.dedup.Dedup.dedupChunksWithinDoc(df, chunkLen = 6)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((3L, 2L, "abcdefxyzxyz")))
    assert(got(2L) == ((1L, 1L, "aaaaaa")))
    assert(got(3L) == ((0L, 0L, "")))
    assert(got(4L) == ((2L, 2L, "abcdefabc")))
  }

  test("containmentPairs: full quote scores 1.0 directed, low Jaccard") {
    // doc 2 fully contains doc 1's text plus much more: every shingle of
    // 1 appears in 2, so cont_1_in_2 = 1.0 while Jaccard stays low
    val quoted = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, quoted),
      (2L, quoted + " plus lots of additional words " +
        (1 to 20).map(i => s"filler$i").mkString(" ")),
      (3L, "entirely different content with no overlap at all"))
      .toDF("doc_id", "text")
    val got = graft.dedup.Dedup.containmentPairs(docs,
        minContainment = 0.9, maxDf = Int.MaxValue)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L))._1 == 1.0) // a fully inside b
    assert(got((1L, 2L))._2 < 0.2)  // b mostly not in a
    // the symmetric-Jaccard detector misses this pair at the same bar
    val jac = graft.dedup.Dedup.ngramJaccard(docs, minJaccard = 0.9,
      maxDf = Int.MaxValue).count()
    assert(jac == 0)
  }

  test("normalizeByGroup: closed form, degenerate group yields nulls") {
    val df = Seq(("g", 0.0), ("g", 10.0), ("g", 20.0),
      ("flat", 7.0), ("flat", 7.0)).toDF("k", "v")
    val got = graft.ops.Stats.normalizeByGroup(df, Seq("k"), "v")
      .collect().map(r => (r.getString(0), r.getDouble(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    val g = got.filter(_._1 == "g").sortBy(_._2)
    // mean 10, population sd = sqrt(200/3 - 0)... sd = sqrt((0+100+400)/3 - 100)
    val sd = math.sqrt(500.0 / 3 - 100.0)
    assert(g.map(_._3.get).toSeq == Seq(-10.0 / sd, 0.0, 10.0 / sd))
    assert(g.map(_._4.get).toSeq == Seq(0.0, 0.5, 1.0))
    // constant group: sd = 0 and span = 0 → both null
    assert(got.filter(_._1 == "flat").forall(r =>
      r._3.isEmpty && r._4.isEmpty))
  }

  test("chunkSharingMatrix: shared template counts once per pair, " +
    "disjoint sources absent") {
    val block = "0123456789abcdef0123456789abcdef"
    val docs = Seq(
      (1L, "sa", block + "tail a"), (2L, "sa", block + "tail b"),
      (3L, "sb", block + "other"),
      (4L, "sc", "entirely different content here")).toDF(
      "doc_id", "source", "text")
    val got = graft.dedup.Dedup.chunkSharingMatrix(docs)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    // block appears in sa (twice, distinct-collapsed) and sb → one
    // shared value; sc shares nothing with anyone
    assert(got == Map(("sa", "sb") -> 1L))
  }

  test("tokenNovelty: first doc is all-novel, repeats contribute " +
    "nothing, within-doc duplicates count once") {
    val docs = Seq(
      (1L, "alpha beta alpha"), // distinct {alpha, beta}: both novel
      (2L, "beta gamma"),       // beta seen → 1/2 novel
      (3L, "alpha beta gamma")) // all seen → 0
      .toDF("doc_id", "text")
    val got = graft.text.TextOps.tokenNovelty(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 2L, 1.0)))
    assert(got(2L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((3L, 0L, 0.0)))
  }

  test("nucleusVocab: smallest prefix crossing p, deterministic ties, " +
    "per-group independence") {
    // en: a×5 b×3 c×2 (total 10); de: x×1 y×1 (total 2)
    val docs = Seq(
      ("en", "a a a a a b b"), ("en", "b c c"),
      ("de", "x y")).toDF("lang", "text")
    def run(p: Double) =
      graft.text.TextOps.nucleusVocab(docs, p)
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3))).toSet
    // p=0.5: 'a' alone reaches 5/10 — 'b' must not enter (mass before it
    // is exactly the threshold); de keeps only 'x' (ties break on token)
    assert(run(0.5) == Set(("en", "a", 5L, 5L), ("de", "x", 1L, 1L)))
    // p=0.8: nucleus crosses the threshold with 'b' (cum 8)
    assert(run(0.8) == Set(("en", "a", 5L, 5L), ("en", "b", 3L, 8L),
      ("de", "x", 1L, 1L), ("de", "y", 1L, 2L)))
  }

  test("selectUnderTokenBudget: bin-decomposed selection equals the " +
    "naive quality-ranked prefix sum") {
    // varied lengths/stopword mixes → spread of quality scores and ties
    val docs = (1L to 40L).map { i =>
      val body = Seq.fill((i % 7).toInt + 1)(s"word$i content the a of")
        .mkString(" ")
      (i, if (i % 3 == 0) body + " !!! ???" else body)
    }.toDF("doc_id", "text")
    val budget = 150L
    val got = graft.text.TextOps.selectUnderTokenBudget(docs, budget)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    // naive definition: global (quality DESC, id) prefix under budget
    val scored = docs.select(col("doc_id"),
        round(graft.text.TextOps.qualityScore(col("text")), 6).as("q"),
        graft.text.TextOps.tokenCount(col("text")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy { case (id, q, _) => (-q, id) }
    var cum = 0L
    val expected = scored.flatMap { case (id, _, n) =>
      cum += n
      if (cum <= budget) Some(id -> cum) else None
    }.toMap
    assert(expected.nonEmpty && expected.size < 40) // budget actually cuts
    assert(got == expected)
  }

  test("selectUnderTokenBudgetByGroup: quotas fill independently, " +
    "unlisted groups drop") {
    // identical text across sources → identical quality and token counts,
    // so quota arithmetic is exact: 6 tokens per doc
    val text = "alpha beta gamma the of a"
    val docs = (1L to 10L).map { i =>
      (i, if (i <= 5) "sa" else "sb", text)
    }.toDF("doc_id", "source", "text")
    val got = graft.text.TextOps.selectUnderTokenBudgetByGroup(docs,
        Map("sa" -> 13L, "sb" -> 6L), groupCol = "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(4)))
      .sortBy(_._1)
    // sa: 13 tokens → 2 docs (ties break by id: 1, 2); sb: 6 → 1 doc (6)
    assert(got.toSeq == Seq((1L, "sa", 6L), (2L, "sa", 12L),
      (6L, "sb", 6L)))
  }

  test("winsorize: clips into the interpolated [p05, p95] band and " +
    "flags only the clipped rows") {
    val df = (1 to 20).map(i => (i.toLong, "a", i.toDouble))
      .toDF("event_id", "g", "v")
    val got = graft.ops.Stats.winsorize(df, Seq("g"), "v")
      .select("event_id", "clipped", "was_clipped").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).sortBy(_._1)
    // 1..20: p05 = 1 + 0.95·1 = 1.95, p95 = 19 + 0.05·1 = 19.05
    // (compare with tolerance: the interpolation fraction 19·0.05 is
    // inexact in binary)
    assert(got(0)._1 == 1L && math.abs(got(0)._2 - 1.95) < 1e-9 &&
      got(0)._3 == 1)
    assert(got(19)._1 == 20L && math.abs(got(19)._2 - 19.05) < 1e-9 &&
      got(19)._3 == 1)
    assert(got(9) == ((10L, 10.0, 0)))
    assert(got.count(_._3 == 1) == 2)
    // NULL value stays NULL (not silently rewritten to the band edge);
    // NULL group key is a group like any other — row count preserved
    val withNulls = Seq((100L, Option("a"), Option(5.0)),
      (101L, Option("a"), None), (102L, None, Option(3.0)),
      (103L, None, Option(9.0))).toDF("event_id", "g", "v")
    val gotN = graft.ops.Stats.winsorize(withNulls, Seq("g"), "v")
      .select("event_id", "clipped", "was_clipped").collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), r.getInt(2)))).toMap
    assert(gotN.size == 4) // nothing dropped
    assert(gotN(101L) == ((None, 0)))
    assert(gotN(102L)._1.isDefined && gotN(103L)._1.isDefined)
  }

  test("bigramNll: closed form on a two-transition corpus") {
    // bigrams: doc1 "a b", doc2 "a c" → c("a ·") = 2, each p = 1/2
    // doc3 "x x x" → c("x x") = 2 = c("x ·") → p = 1, nll = 0
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "x x x"))
      .toDF("doc_id", "text")
    val got = graft.text.TextOps.bigramNll(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got(0) == ((1L, 1L, math.log(2.0))))
    assert(got(1) == ((2L, 1L, math.log(2.0))))
    assert(got(2) == ((3L, 2L, 0.0)))
    // single-token docs have no transitions and drop out
    assert(graft.text.TextOps.bigramNll(
      Seq((9L, "solo")).toDF("doc_id", "text")).count() == 0)
  }

  test("hashFeatures: counts conserve tokens, buckets are deterministic") {
    val docs = Seq((1L, "a b a"), (2L, "a")).toDF("doc_id", "text")
    val got = graft.text.TextOps.hashFeatures(docs, numBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // per-doc bucket counts sum to the doc's token count
    assert(got.filter(_._1 == 1L).map(_._3).sum == 3L)
    assert(got.filter(_._1 == 2L).map(_._3).sum == 1L)
    // the same token lands in the same bucket in every doc
    val aBuckets = got.filter(r => r._3 >= 1 && r._1 == 2L).map(_._2)
    assert(got.filter(_._1 == 1L).map(_._2).toSet.contains(aBuckets.head))
    assert(got.forall(r => r._2 >= 0 && r._2 < 8))
  }

  test("splitLeakage: exactly the candidate pairs whose splits differ") {
    // duplicate texts across many ids → plenty of LSH candidates; the
    // leakage report must be the split-crossing subset of them
    val docs = (0L until 40L).map(i =>
      (i, s"shared near duplicate content block number ${i % 4} with " +
        "enough overlapping shingled words to collide"))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = pairs(graft.dedup.Dedup.minhashCandidates(docs,
      numHashes = 16, bands = 4, portable = true))
    val leak = graft.dedup.Dedup.splitLeakage(docs,
      numHashes = 16, bands = 4, portable = true).collect()
    val leakPairs = leak.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(leakPairs.subsetOf(cands))
    assert(leak.forall(r => r.getString(2) != r.getString(3)))
    // expected crossing set from the split function itself
    val split = docs.select(col("doc_id"),
        graft.text.TextOps.hashSplit(col("doc_id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(leakPairs == cands.filter { case (a, b) => split(a) != split(b) })
    assert(leakPairs.nonEmpty)
  }

  test("ksDistance: identical → 0, disjoint → 1, half-shift → 0.5") {
    val df = (
      Seq.tabulate(10)(i => ("a", i.toLong)) ++   // a: 0..9
      Seq.tabulate(10)(i => ("b", i.toLong)) ++   // b identical to a
      Seq.tabulate(10)(i => ("c", i + 100L)) ++   // c disjoint from a
      Seq.tabulate(10)(i => ("d", i + 5L))        // d overlaps a's top half
    ).toDF("g", "v")
    val got = graft.ops.Stats.ksDistance(df, "g", "v")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(2)).toMap
    assert(got(("a", "b")) == 0.0)
    assert(got(("a", "c")) == 1.0)
    // F_a(4) = 0.5, F_d(4) = 0 → sup is exactly 0.5
    assert(got(("a", "d")) == 0.5)
  }

  test("zipfSlope recovers the exponent of an exact power-law corpus") {
    // token w_r appears (60/r)² times — exact squares for ranks 1..5
    // (60, 30, 20, 15, 12), so ln(freq) = 2·ln 60 − 2·ln(rank) is
    // EXACTLY linear in ln(rank) and the least-squares slope is −2
    val corpus = (1 to 10).flatMap { r =>
      Seq.fill((60 / r) * (60 / r))(f"w$r%02d")
    }.map(Tuple1(_))
    val got = graft.text.TextOps.zipfSlope(corpus.toDF("text"),
      maxVocab = 5).head()
    assert(got.getAs[Long]("n_tokens") == 5L)
    assert(math.abs(got.getAs[Double]("slope") - (-2.0)) < 1e-9)
    assert(math.abs(got.getAs[Double]("intercept") - 2 * math.log(60))
      < 1e-9)
  }

  test("pqEncode: codebook members self-encode, neighbors snap to them") {
    // ids 0..15 are constant vectors [i, i, ...] and form the codebook;
    // id 100 sits nearest constant-2 in every subspace
    val embs = ((0L until 16L).map(i => (i, Seq.fill(16)(i.toFloat))) :+
      ((100L, Seq.fill(16)(2.2f)))).toDF("vec_id", "embedding")
    val got = Similarity.pqEncode(embs, m = 4, k = 16, dim = 16)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Int](1).toSeq).toMap
    assert(got(5L) == Seq(5, 5, 5, 5)) // zero distance to itself
    assert(got(100L) == Seq(2, 2, 2, 2))
    assert(got.keySet.size == 17)
  }

  test("recallAtK counts the overlap of approx vs exact top-k") {
    val exact = (1L to 10L).map(Tuple1(_)).toDF("vec_id")
    val approx = (6L to 15L).map(Tuple1(_)).toDF("vec_id")
    val r = Similarity.recallAtK(exact, approx, 10).head()
    assert(r.getAs[Long]("hits") == 5L)
    assert(r.getAs[Double]("recall") == 0.5)
  }

  test("assignToCentroids: broadcast path ≡ literal path bit-for-bit") {
    val embs = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 3.7 + d).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    // duplicate centroid (3 ≡ 1) forces equal-sim ties; zero centroid and
    // a zero vector row exercise the nn=0 branch on both paths
    val base = (0L until 3L).map { c =>
      (c, Array.tabulate(8)(d => math.cos(c * 1.3 + d)))
    }
    val cents = base ++ Seq((3L, base(1)._2.clone()),
      (4L, Array.fill(8)(0.0)))
    val withZero = embs.union(
      Seq((99L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding"))
    def run(limit: Int) =
      Similarity.assignToCentroids(withZero, cents, dim = 8,
        literalLimit = limit)
        .select("vec_id", "cluster", "sim").orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaLiterals = run(Int.MaxValue)
    val viaBroadcast = run(0)
    assert(viaLiterals == viaBroadcast) // exact double equality
    // ties resolved to the smallest cluster id on both paths
    assert(viaLiterals.forall(_._2 != 3L))
  }

  test("assignToCentroids: large k routes to broadcast, plan stays O(1)") {
    val embs = (0L until 20L).map { i =>
      (i, Array.tabulate(16)(d => (i + d).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val cents = (0L until 1024L).map { c =>
      (c, Array.tabulate(16)(d => math.sin(c * 0.31 + d)))
    }
    // 1024·16 = 16384 doubles > LiteralCentroidDoubles → broadcast kernel
    val df = Similarity.assignToCentroids(embs, cents, dim = 16)
    // analyzed plan: over a local relation the optimizer constant-folds
    // the whole projection away, so the optimized plan hides the kernel
    val usesKernel = df.queryExecution.analyzed
      .collect { case p => p.expressions }.flatten.exists(
        _.find(_.isInstanceOf[graft.functions.NearestCentroid]).isDefined)
    assert(usesKernel, "expected the broadcast NearestCentroid kernel")
    // the literal path at this k inlines 16k doubles (>150 KB of plan
    // text); the broadcast plan carries only the expression node
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.length < 20000, s"plan unexpectedly large: ${plan.length}")
    val got = df.select("vec_id", "cluster").collect()
    assert(got.length == 20 && got.forall(_.getLong(1) >= 0L))
  }

  test("ivfTopK probes nearest clusters and rescores exactly") {
    val embs = (0L until 30L).map { i =>
      val base = (i % 3).toInt // 3 clusters along different axes
      val v = Array.fill(8)(0.01f)
      v(base) = 1f + (i % 5) * 0.01f
      (i, v.toSeq, base)
    }.toDF("vec_id", "embedding", "label")
    val q = Array.fill(8)(0.01); q(1) = 1.0 // near cluster 1
    val got = Similarity.ivfTopK(embs, typedlit(q), 5, "label",
      nProbe = 1, dim = 8).collect()
    assert(got.length == 5)
    // every result comes from cluster 1 (vec_id % 3 == 1)
    assert(got.forall(_.getAs[Long]("vec_id") % 3 == 1))
    assert(got.head.getAs[Double]("cosine") > 0.99)
  }

  test("ivfTopKWithIndex over a prebuilt (cached) index matches ivfTopK") {
    val embs = (0L until 30L).map { i =>
      val v = Array.fill(8)(0.01f)
      v((i % 3).toInt) = 1f
      (i, v.toSeq, (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val idx = Similarity.ivfIndex(embs, "label").cache()
    val q = Array.fill(8)(0.01); q(2) = 1.0
    val direct = Similarity.ivfTopK(embs, typedlit(q), 4, "label",
      nProbe = 1, dim = 8).collect().map(_.toSeq).toSeq
    val viaIndex = Similarity.ivfTopKWithIndex(embs, idx, typedlit(q), 4,
      "label", nProbe = 1, dim = 8).collect().map(_.toSeq).toSeq
    idx.unpersist()
    assert(direct == viaIndex)
  }

  test("hyperplaneKey is deterministic and groups identical vectors") {
    val embs = Seq((0L, Seq.fill(8)(1f)), (1L, Seq.fill(8)(1f)))
      .toDF("vec_id", "embedding")
    val keys = embs.select(Similarity.hyperplaneKey(
      col("embedding").cast("array<double>"), 8, 8)).as[Long]
      .collect().toSeq
    assert(keys(0) == keys(1))
  }

  test("chunkTokens: overlapping windows cover every token; short and " +
    "null docs behave") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "solo"),                                   // 1 token
      (3L, null.asInstanceOf[String]))                // no chunks
      .toDF("doc_id", "text")
    val got = TextOps.chunkTokens(docs, chunkSize = 4, overlap = 2)
      .orderBy("doc_id", "token_start")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // step = 2: starts 0,2,4,6,8 for doc 1 (tails shrink below chunkSize)
    assert(got.toSeq == Seq(
      (1L, 0, "w1 w2 w3 w4"), (1L, 2, "w3 w4 w5 w6"),
      (1L, 4, "w5 w6 w7 w8"), (1L, 6, "w7 w8 w9 w10"),
      (1L, 8, "w9 w10"),
      (2L, 0, "solo")))
    // every token of doc 1 appears in at least one chunk
    val covered = got.filter(_._1 == 1L).flatMap(_._3.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"w$i").toSet)
  }

  test("mixtureRates: binding stratum keeps everything, others scale to " +
    "the target shares; unlisted strata are excluded") {
    // counts: a=20, b=10; shares 0.5/0.5 → T = min(40, 20) = 20 →
    // rate_a = 0.5·20/20 = 0.5, rate_b = 0.5·20/10 = 1.0 (binding)
    val docs = ((1 to 20).map(i => (i.toLong, "a")) ++
      (21 to 30).map(i => (i.toLong, "b")) ++
      Seq((31L, "noise"))).toDF("doc_id", "source")
    val rates = TextOps.mixtureRates(docs,
      Map("a" -> 0.5, "b" -> 0.5)).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rates == Map("a" -> 500000L, "b" -> 1000000L))
    val kept = TextOps.mixtureSample(docs,
      TextOps.mixtureRates(docs, Map("a" -> 0.5, "b" -> 0.5)))
    // all of b survives; noise is excluded entirely; a is subsampled
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(bySrc.getOrElse("b", 0L) == 10L)
    assert(!bySrc.contains("noise"))
    assert(bySrc("a") < 20L && bySrc("a") > 0L)
    // a target stratum absent from the corpus makes the mixture
    // infeasible: T = 0, every present stratum's rate 0 → EMPTY sample
    // (loud failure, not a silently wrong composition)
    val infeasible = TextOps.mixtureSample(docs,
      TextOps.mixtureRates(docs, Map("a" -> 0.5, "missing" -> 0.5)))
    assert(infeasible.count() == 0L)
  }

  test("bloomDecontaminate: no false negatives vs exact decontaminate; " +
    "generous sizing gives exact parity; empty eval is identity") {
    def doc(id: Long, words: Seq[String]) = (id, words.mkString(" "))
    val evalSet = Seq(doc(100L, (1 to 10).map(i => s"e$i")))
      .toDF("doc_id", "text")
    val train = Seq(
      doc(1L, (1 to 10).map(i => s"e$i")),           // contaminated (same 8-grams)
      doc(2L, (1 to 20).map(i => s"c$i")),           // clean
      doc(3L, (3 to 12).map(i => s"e$i")),           // contaminated (shares e3..e10)
      doc(4L, (1 to 9).map(i => s"d$i")))            // clean
      .toDF("doc_id", "text")
    val exact = TextOps.decontaminate(train, evalSet)
      .select("doc_id").as[Long].collect().toSet
    val bloom = TextOps.bloomDecontaminate(train, evalSet,
      expectedItems = 64, numBits = 1 << 14) // ~256 bits/item: fp ~ 0
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(2L, 4L))
    assert(bloom == exact, "generously sized bloom must match exact")
    // no-false-negative guarantee holds even when undersized (fp may drop
    // extra clean docs, never keep a contaminated one)
    val tiny = TextOps.bloomDecontaminate(train, evalSet,
      expectedItems = 4, numBits = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(tiny.subsetOf(exact), s"kept a contaminated doc: $tiny")
    // empty eval set: identity
    val none = TextOps.bloomDecontaminate(train,
      evalSet.filter(col("doc_id") < 0))
    assert(none.count() == 4)
  }

  test("fuzzyPairs: within-block edit-distance pairs over the distinct " +
    "domain; cross-block near-misses are the documented blocking tradeoff") {
    import graft.dedup.Dedup
    val vals = Seq("red widget", "red widgets", "red gadget",
      "red widget", // duplicate row — must not duplicate pairs
      "ted widget", // 1 edit from "red widget" but different block
      null.asInstanceOf[String])
      .toDF("p_name")
    val got = Dedup.fuzzyPairs(vals, "p_name", maxDist = 2)
      .orderBy("v_a", "v_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
    // "widget"↔"widgets" dist 1; "gadget"↔"widget" dist 2 (g↔w, a↔i);
    // "gadget"↔"widgets" dist 3 — excluded at maxDist 2; "ted widget" is
    // 1 edit from "red widget" but lands in another block (the recall
    // tradeoff every blocked fuzzy join makes); null and the duplicate
    // row contribute nothing
    assert(got == Seq(
      ("red gadget", "red widget", 2),
      ("red widget", "red widgets", 1)), s"got $got")
  }

  test("frequentTokens: exact when the domain fits the sketch (across " +
    "partitions); no false negatives under a tiny map on skewed data") {
    // small domain, many partitions → partial sketches must merge exactly
    val docs = Seq.tabulate(40)(i =>
      (i.toLong, if (i % 4 == 0) "alpha beta" else "alpha gamma"))
      .toDF("doc_id", "text").repartition(7)
    val got = TextOps.frequentTokens(docs, maxMapSize = 64)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // exact: estimate == lower == upper == true count
    assert(got == Seq(("alpha", 40L, 40L, 40L), ("gamma", 30L, 30L, 30L),
      ("beta", 10L, 10L, 10L)), s"got $got")

    // skew: one token at 500, 200 singletons, map of only 8 counters —
    // Misra-Gries must still surface the heavy hitter (no false
    // negatives) with lower <= true <= upper
    val skewed = (Seq.fill(500)("hot") ++ (0 until 200).map(i => s"cold$i"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text").repartition(5)
    val hh = TextOps.frequentTokens(skewed, maxMapSize = 8)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    val hot = hh.find(_._1 == "hot")
    assert(hot.isDefined, s"heavy hitter missing from $hh")
    assert(hot.get._2 <= 500L && 500L <= hot.get._3,
      s"true count outside [lower, upper]: ${hot.get}")
  }

  test("packSequences: contiguous start-of-row packing per group, " +
    "deterministic order, oversized rows advance the cursor") {
    def words(n: Int) = (1 to n).map(_ => "w").mkString(" ")
    val docs = Seq(
      ("a", 1L, words(6)), ("a", 2L, words(6)), ("a", 3L, words(6)),
      ("a", 4L, words(25)), // oversized vs budget 10 — own pack(s)
      ("a", 5L, words(2)),
      ("b", 1L, words(3)))
      .toDF("source", "doc_id", "text")
    val got = TextOps.packSequences(docs, budgetTokens = 10,
        partitionCols = Seq("source"))
      .select("source", "doc_id", "pack_id", "n_tokens").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // cum_before per a-row: 0, 6, 12, 18, 43 → packs 0, 0, 1, 1, 4.
    // A row starting inside a pack belongs to it even if it overflows
    // (start-of-row semantics); the 25-token row pushes the next row to
    // pack 4, leaving packs 2-3 empty — gaps are fine, ids stay ordered.
    assert(got == Seq(("a", 1L, 0L), ("a", 2L, 0L), ("a", 3L, 1L),
      ("a", 4L, 1L), ("a", 5L, 4L), ("b", 1L, 0L)), s"got $got")
  }

  test("vocabulary: case-folded counts, deterministic tie order, empty " +
    "tokens dropped") {
    val docs = Seq((1L, "The the  a b"), (2L, "b a")).toDF("doc_id", "text")
    val got = TextOps.vocabulary(docs, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // "The the" folds to the×2; a×2, b×2 tie → lexicographic; the double
    // space yields an empty token that must not appear
    assert(got == Seq(("a", 2L), ("b", 2L), ("the", 2L)))
  }

  test("bm25TopK: scores match the closed-form Okapi formula, rare terms " +
    "dominate, no-hit docs excluded") {
    val docs = Seq(
      (1L, "apple banana apple"), // tf(apple)=2, dl=3
      (2L, "apple cherry"),       // tf(apple)=1, dl=2
      (3L, "banana banana banana"), // no query term → excluded
      (4L, "durian durian"))      // tf(durian)=2, dl=2; df(durian)=1
      .toDF("doc_id", "text")
    val got = TextOps.bm25TopK(docs, Seq("apple", "durian"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .toSeq
    // closed form with N=4, avgdl=2.5, k1=1.2, b=0.75
    def idf(df: Double) = math.log(1 + (4 - df + 0.5) / (df + 0.5))
    def w(tf: Double, df: Double, dl: Double) =
      idf(df) * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 2.5))
    val exp = Seq(
      (4L, w(2, 1, 2), 1L), // rare durian outranks common apple
      (1L, w(2, 2, 3), 1L),
      (2L, w(1, 2, 2), 1L))
    assert(got.map(_._1) == exp.map(_._1), s"ranking: $got")
    assert(got.map(_._3) == exp.map(_._3), s"n_terms: $got")
    got.zip(exp).foreach { case ((_, g, _), (_, e, _)) =>
      assert(math.abs(g - e) < 1e-6, s"score $g vs $e") }
    assert(got.head._2 > got(1)._2)
  }

  test("bm25TopK: k bounds the result and ranking uses the rounded score") {
    val docs = Seq((1L, "x y"), (2L, "x z"), (3L, "x q"))
      .toDF("doc_id", "text")
    val got = TextOps.bm25TopK(docs, Seq("x"), k = 2).collect()
    // identical tf/dl/df → identical scores; rounded-score tie breaks by id
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("adaptiveQualityGate: per-group thresholds — each source gated by " +
    "its own quantile, constant groups keep everything") {
    def words(n: Int) = (1 to n).map(i => "xy").mkString(" ")
    // source a: five docs with strictly increasing length → quality is
    // monotonic (no stopwords, no punctuation); pct=0.2 lands between the
    // two shortest, so exactly the shortest is dropped
    val a = (1 to 5).map(i => (i.toLong, "a", words(i * 10)))
    // source b: all-equal quality → threshold equals it → all kept
    val b = (6 to 8).map(i => (i.toLong, "b", words(20)))
    val docs = (a ++ b).toDF("doc_id", "source", "text")
    val kept = TextOps.adaptiveQualityGate(docs, pct = 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(kept == Seq(2L, 3L, 4L, 5L, 6L, 7L, 8L), s"got $kept")
  }

  test("nearDupKeepBest: longest cluster member wins, singletons keep " +
    "themselves") {
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (10L, base),              // near-dup of 11, shorter
      (11L, base + " extra"),   // longest → representative
      (12L, "entirely different words " + (1 to 8).map(i => s"z$i")
        .mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.nearDupKeepBest(docs, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3))).toSeq.sortBy(_._1)
    assert(got == Seq((10L, 10L, 2, 0), (11L, 10L, 1, 1),
      (12L, 12L, 1, 1)), s"got $got")
  }

  test("madOutliers: modified z-score flags the contaminant, MAD=0 " +
    "groups flag any deviation without dividing by zero") {
    val rows =
      (1 to 9).map(i => ("a", i.toDouble)) :+ ("a", 100.0) :++
        Seq(("b", 7.0), ("b", 7.0), ("b", 7.0), ("b", 42.0))
    val df = rows.toDF("k", "v")
    val got = graft.ops.Stats.madOutliers(df, Seq("k"), "v")
      .filter(col("is_outlier") === 1)
      .select("k", "v").collect().map(r => (r.getString(0), r.getDouble(1)))
      .toSeq.sorted
    // a: med 5.5, mad 2.5 → only 100 clears 0.6745·|x−5.5| > 8.75;
    // b: med 7, mad 0 → any deviation flags (42), constants never do
    assert(got == Seq(("a", 100.0), ("b", 42.0)), s"got $got")
  }

  test("pmiPairs: document-frequency PMI over distinct within-doc pairs, " +
    "repeats inside a doc count once") {
    val docs = Seq(
      (1L, "a a b"), // repeated 'a' → still one (a,b) co-occurrence
      (2L, "a b"),
      (3L, "a c"),
      (4L, "b c"))
      .toDF("doc_id", "text")
    val got = TextOps.pmiPairs(docs, minPairCount = 1, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    def pmi(nab: Double, na: Double, nb: Double) =
      math.log(nab * 4 / (na * nb))
    assert(got.map(t => (t._1, t._2, t._3)) ==
      Seq(("a", "b", 2L), ("a", "c", 1L), ("b", "c", 1L)), s"got $got")
    val exp = Seq(pmi(2, 3, 3), pmi(1, 3, 2), pmi(1, 3, 2))
    got.map(_._4).zip(exp).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-6, s"$g vs $e") }
  }

  test("incrementalNew: batch dedups against corpus digests and within " +
    "itself, normalization folds case/whitespace") {
    val corpus = Seq((1L, "hello world"), (2L, "foo bar"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "hello world"),   // exact corpus dup → dropped
      (11L, "Hello   WORLD"), // normalized corpus dup → dropped
      (12L, "fresh text"),    // new → kept
      (13L, "fresh text"),    // in-batch dup → dropped (min id wins)
      (14L, "another one"),   // new → kept
      (15L, null.asInstanceOf[String]),  // null text: not a duplicate
      (16L, null.asInstanceOf[String]))  //  relation — BOTH pass through
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNew(batch, corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(got == Seq(12L, 14L, 15L, 16L), s"got $got")
  }

  test("resampleFfill: hourly grid per key, latest value carried, nulls " +
    "before the first observation") {
    val obs = Seq(
      (1L, ts("2024-01-01 10:30:00"), 5.0),
      (1L, ts("2024-01-01 12:10:00"), 7.0),
      (2L, ts("2024-01-01 00:15:00"), 1.0))
      .toDF("user_id", "ts", "value")
    val got = AsOf.resampleFfill(obs, Seq("user_id"), "ts", Seq("value"),
        stepSec = 3600L)
      .orderBy("user_id", "grid_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSeq
    // user 1: grid 10:00..12:00; 10:00 precedes the first obs → null
    assert(got == Seq(
      (1L, "2024-01-01 10:00:00.0", -1.0),
      (1L, "2024-01-01 11:00:00.0", 5.0),
      (1L, "2024-01-01 12:00:00.0", 5.0),
      (2L, "2024-01-01 00:00:00.0", -1.0)), s"got $got")
  }

  test("unigramNll: rare tokens score high, closed-form check") {
    // corpus: 'a' x3, 'b' x1 → p(a)=3/4, p(b)=1/4
    val docs = Seq((1L, "a a"), (2L, "a b")).toDF("doc_id", "text")
    val got = TextOps.unigramNll(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val pa = 0.75; val pb = 0.25
    assert(got(0)._3 == r6(-math.log(pa)))
    assert(got(1)._3 == r6((-math.log(pa) - math.log(pb)) / 2))
    assert(got(1)._3 > got(0)._3) // the rare-token doc scores higher
  }

  test("vocabOverlap: exact jaccard over distinct token sets, ordered " +
    "pairs only") {
    val docs = Seq(
      (1L, "a", "x y z"), (2L, "a", "x y"), // A = {x,y,z}
      (3L, "b", "y z q"),                   // B = {y,z,q}
      (4L, "c", "mm nn"))                   // C disjoint → no rows with C
      .toDF("doc_id", "source", "text")
    val got = TextOps.vocabOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == Seq(("a", "b", 2L, 0.5)), s"got $got") // 2/(3+3-2)
  }

  test("psi: identical cohorts score zero, a shifted cohort scores " +
    "positive") {
    val same = (1 to 100).map(i => (if (i % 2 == 0) "a" else "b",
      (i % 10).toDouble))
    val df = same.toDF("coh", "v")
    val z = graft.ops.Stats.psi(df, "coh", "v", "a", "b", 2.0).head()
    assert(z.getDouble(1) == 0.0, s"psi=${z.getDouble(1)}")
    // concentrate cohort b's mass into one bin → strictly positive drift
    val shifted = (1 to 100).map { i =>
      if (i % 2 == 0) ("a", (i % 10).toDouble)
      else ("b", math.min(i % 10, 4).toDouble)
    }.toDF("coh", "v")
    val p = graft.ops.Stats.psi(shifted, "coh", "v", "a", "b", 2.0).head()
    assert(p.getDouble(1) > 0.0)
  }

  test("ohlcBars: open/close by (ts, tie) order, high/low extremes, " +
    "bucket boundaries") {
    val rows = Seq(
      (1L, ts("2024-01-01 10:05:00"), 5.0, 1L),
      (1L, ts("2024-01-01 10:20:00"), 9.0, 2L),
      (1L, ts("2024-01-01 10:50:00"), 2.0, 3L),
      // same ts as id 3 — tiebreaker decides close
      (1L, ts("2024-01-01 10:50:00"), 7.0, 4L),
      (1L, ts("2024-01-01 11:10:00"), 4.0, 5L)) // next bucket
      .toDF("user_id", "ts", "value", "event_id")
    val got = graft.ops.TimeOps.ohlcBars(rows, Seq("user_id"), "ts",
        "value", 3600L, "event_id")
      .orderBy("bucket_ts").collect()
      .map(r => (r.getTimestamp(1).toString, r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
      .toSeq
    assert(got == Seq(
      ("2024-01-01 10:00:00.0", 5.0, 9.0, 2.0, 7.0, 4L),
      ("2024-01-01 11:00:00.0", 4.0, 4.0, 4.0, 4.0, 1L)), s"got $got")
  }

  test("asofForward: earliest later right row, inclusive vs strict at " +
    "equal timestamps") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "L1"))
      .toDF("k", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 1.0), // earlier — never matches
      (1L, ts("2024-01-01 10:00:00"), 2.0), // coincident
      (1L, ts("2024-01-01 11:00:00"), 3.0)) // later
      .toDF("k", "rts", "v")
    def run(strict: Boolean) =
      AsOf.asofForward(left, right, Seq("k"), "ts", "rts", Seq("v"),
        strict = strict).head().getAs[Double]("asof_v")
    assert(run(strict = false) == 2.0) // inclusive: coincident row wins
    assert(run(strict = true) == 3.0)  // strict: next later row
    // no later right row → null
    val none = AsOf.asofForward(left,
      right.filter(col("v") === 1.0), Seq("k"), "ts", "rts", Seq("v"))
      .head()
    assert(none.isNullAt(none.fieldIndex("asof_v")))
  }

  test("weightedSample: deterministic, and weight dominates inclusion") {
    val docs = Seq((1L, 1L), (2L, 1L), (3L, 1000000L))
      .toDF("doc_id", "w")
    // u^(1/1000000) ≈ 1 for any u → the heavy doc always ranks first
    val top = TextOps.weightedSample(docs, col("w"), k = 1)
      .select("doc_id").head().getLong(0)
    assert(top == 3L)
    // deterministic: same call, same sample
    val a = TextOps.weightedSample(docs, col("w"), k = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val b = TextOps.weightedSample(docs, col("w"), k = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(a == b && a.size == 2)
  }

  test("tokenEntropy: closed-form values, +0.0 for constant docs, null " +
    "passthrough, kernel ≡ relational form") {
    val docs = Seq((1L, "a a b b"), (2L, "a a a"), (3L, "A b c d"),
      (4L, null.asInstanceOf[String]), (5L, "x"))
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        TextOps.tokenEntropy(col("text")).as("e"))
      .orderBy("doc_id").collect()
      .map(r => if (r.isNullAt(1)) Double.NaN else r.getDouble(1)).toSeq
    assert(math.abs(got(0) - math.log(2)) < 1e-12)
    assert(got(1) == 0.0 &&
      java.lang.Double.doubleToRawLongBits(got(1)) == 0L) // +0.0, not -0.0
    assert(math.abs(got(2) - math.log(4)) < 1e-12) // case-folded, 4 distinct
    assert(got(3).isNaN) // null text → null entropy
    assert(got(4) == 0.0)
    // kernel ≡ explode + group + sum relational form
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val rel = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(lower(col("text")), " "))
        .as("t"))
      .filter(length(col("t")) > 0)
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .withColumn("p", col("c").cast("double") / sum("c").over(w))
      .groupBy("doc_id")
      .agg((lit(0.0) - sum(col("p") * log(col("p")))).as("e"))
      .orderBy("doc_id").collect().map(_.getDouble(1)).toSeq
    got.zipWithIndex.filter(!_._1.isNaN).map(_._2).zip(rel).foreach {
      case (i, r) => assert(math.abs(got(i) - r) < 1e-12, s"doc $i") }
  }

  test("expectationsReport: null predicates count as violations, " +
    "uniqueness via distinct, one row per check") {
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 5.0), (2L, 50.0), (2L, null), (3L, 7.0))
      .toDF("id", "v")
    val got = graft.ops.Quality.expectationsReport(df,
        Seq("v_not_null" -> col("v").isNotNull,
          "v_small" -> (col("v") < 10.0)),
        uniqueCols = Seq("id"))
      .orderBy("check").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq
    // v_small: 50.0 fails, null v fails (null predicate = violation)
    assert(got == Seq(
      ("unique_id", 4L, 1L, 0),
      ("v_not_null", 4L, 1L, 0),
      ("v_small", 4L, 2L, 0)), s"got $got")
    val clean = graft.ops.Quality.expectationsReport(df,
      Seq("id_positive" -> (col("id") > 0)))
      .collect()(0)
    assert(clean.getLong(2) == 0L && clean.getInt(3) == 1)
    // empty frame: checks pass vacuously (sum() over zero rows is NULL —
    // must coalesce to 0, not report a failure with NULL violations)
    val empty = graft.ops.Quality.expectationsReport(
      df.filter(col("id") < 0),
      Seq("v_not_null" -> col("v").isNotNull), uniqueCols = Seq("id"))
      .orderBy("check").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq
    assert(empty == Seq(("unique_id", 0L, 0L, 1), ("v_not_null", 0L, 0L, 1)),
      s"got $empty")
  }

  test("cusum: matches the closed-form prefix sums; sustained shift " +
    "trips the band, and the final cusum returns to zero by definition") {
    val vs = (1 to 10).map(i => if (i % 2 == 0) 7.0 else 3.0) ++
      Seq.fill(4)(15.0)
    val df = vs.zipWithIndex.map { case (v, i) => ("k", (i + 1).toLong, v) }
      .toDF("k", "i", "v")
    val got = graft.ops.Stats.cusum(df, Seq("k"), "v", Seq(col("i")),
        threshold = 15.0)
      .orderBy("i").collect()
    val m = vs.sum / vs.size
    val exp = vs.scanLeft(0.0)(_ + _ - m).tail
    got.map(_.getAs[Double]("cusum")).zip(exp).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-9, s"$g vs $e") }
    val flags = got.map(_.getAs[Int]("drift")).toSeq
    assert(flags == exp.map(x => if (math.abs(x) > 15.0) 1 else 0),
      s"flags $flags")
    assert(flags.head == 0 && flags.contains(1) && flags.last == 0)
    assert(math.abs(exp.last) < 1e-9) // Σ(v − mean) ≡ 0
  }

  test("quantileBuckets: SQL-standard remainder semantics — first tiles " +
    "take the extra rows") {
    val df = (1 to 7).map(i => ("g", i.toDouble, i.toLong))
      .toDF("k", "v", "id")
    val got = graft.ops.Windows.quantileBuckets(df, Seq("k"),
        Seq(col("v").asc, col("id").asc), 3)
      .select("id", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    // 7 rows / 3 buckets → sizes 3,2,2
    assert(got == Seq((1L, 1), (2L, 1), (3L, 1), (4L, 2), (5L, 2),
      (6L, 3), (7L, 3)), s"got $got")
  }

  test("quantileBucketsByCutpoints ≡ ntile on distinct uniform data") {
    // two groups of 100 distinct values, shuffled row order; group size
    // divisible by buckets and exact percentiles → cut-point binning
    // reproduces ntile's rank-based tiles exactly
    val rows = for {
      g <- Seq("a", "b"); i <- 0 until 100
    } yield (g, ((i * 37) % 100).toDouble + (if (g == "a") 0 else 1000), i.toLong)
    val df = rows.toDF("k", "v", "id")
    val viaWindow = graft.ops.Windows.quantileBuckets(df, Seq("k"),
        Seq(col("v").asc, col("id").asc), 4)
      .select("k", "v", "bucket").collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getInt(2)).toMap
    val viaCuts = graft.ops.Windows.quantileBucketsByCutpoints(
        df, Seq("k"), "v", 4)
      .select("k", "v", "bucket").collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getInt(2)).toMap
    assert(viaCuts == viaWindow)
    // documented trade-off: massively tied values collapse into one
    // bucket on the cut-point path (ntile would split them by rank)
    val tied = Seq.fill(40)(("t", 5.0)).toDF("k", "v")
    val tiedBuckets = graft.ops.Windows.quantileBucketsByCutpoints(
      tied, Seq("k"), "v", 4).select("bucket").distinct().collect()
    assert(tiedBuckets.map(_.getInt(0)).toSeq == Seq(1))
  }

  test("quantileBucketsAuto routes the giant group away from the window") {
    val df = (0 until 120).map(i => ("g", (i * 7 % 120).toDouble, i.toLong))
      .toDF("k", "v", "id")
    val routed = graft.ops.Windows.quantileBucketsAuto(df, Seq("k"), "v",
      Seq(col("v").asc, col("id").asc), 4, maxWindowGroupRows = 10,
      accuracy = 0)
    // routed path must not plan a window (no per-group sort task)
    assert(!routed.queryExecution.sparkPlan.toString.contains("Window"),
      "giant-group path still plans a window")
    // and must agree with ntile here (120 distinct, 120 % 4 == 0)
    val viaWindow = graft.ops.Windows.quantileBucketsAuto(df, Seq("k"), "v",
      Seq(col("v").asc, col("id").asc), 4, maxWindowGroupRows = 1000000)
    assert(viaWindow.queryExecution.sparkPlan.toString.contains("Window"))
    def m(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "bucket").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m(routed) == m(viaWindow))
  }

  test("audioDhash56: gain-invariant envelope hash; doubled gain " +
    "collapses to the keeper, different envelope stays apart") {
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
    // rising loudness envelope, 114 samples (> 57 windows)
    val base = Array.tabulate(114)(i => if (i % 2 == 0) i * 20 else -i * 20)
    val louder = base.map(_ * 2) // uniform gain: same envelope SHAPE
    val falling = base.reverse
    assert(Multimodal.audioDhash56(wav(base)) ==
      Multimodal.audioDhash56(wav(louder)), "gain must not change the fp")
    assert(Multimodal.audioDhash56(wav(base)) !=
      Multimodal.audioDhash56(wav(falling)))
    val assets = Seq((10L, "audio", wav(base)), (11L, "audio", wav(louder)),
      (12L, "audio", wav(falling)), (13L, "image", wav(base)))
      .toDF("asset_id", "modality", "payload")
    val groups = Multimodal.audioDupGroups(assets).orderBy("id").collect()
    assert(groups.map(r => (r.getLong(0), r.getLong(2),
      r.getBoolean(3))).toSeq ==
      Seq((10L, 10L, true), (11L, 10L, false), (12L, 12L, true)))
  }

  test("driftReport: identical columns score zero, a reweighted column " +
    "lights up PSI and KS while the means stay EQUAL") {
    // reweighting over the same support: uniform 0..9 vs squares mod 10
    // (counts 10/20/20/10/20/20 on {0,1,4,5,6,9}) — both cohorts mean
    // 4.5, so a mean-only gate sees nothing; PSI and KS both fire
    val a = (0 until 100).map(i => (i.toDouble % 10, (i % 10).toDouble))
      .toDF("stable", "reweighted")
    val b = (0 until 100).map(i => (i.toDouble % 10,
      ((i * i) % 10).toDouble)).toDF("stable", "reweighted")
    val got = graft.ops.Stats.driftReport(a, b, Seq("stable", "reweighted"))
      .orderBy("column").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    val (sa, sb, spsi, sks) = got("stable")
    assert(sa == sb && spsi == 0.0 && sks == 0.0)
    val (ha, hb, hpsi, hks) = got("reweighted")
    assert(ha == hb, "means are equal by construction — drift is invisible" +
      " to a mean-only gate")
    // 4 doubled-share bins: 4 · (0.1−0.2)·ln(0.1/0.2) ≈ 0.277
    assert(math.abs(hpsi - 4 * 0.1 * math.log(2.0)) < 1e-6, s"psi $hpsi")
    assert(hks == 0.1, s"ks $hks")

    // broken snapshot: an all-NULL side must surface as a NULL-metric
    // ROW (the alarm), never as a silently missing row
    val broken = Seq.fill(5)(null.asInstanceOf[java.lang.Double])
      .toDF("stable")
    val br = graft.ops.Stats.driftReport(a.select("stable"), broken,
      Seq("stable")).collect()
    assert(br.length == 1, "broken snapshot dropped its report row")
    assert(br(0).isNullAt(2) && br(0).isNullAt(3) && br(0).isNullAt(4),
      "broken side must report NULL mean_b/psi/ks")
  }

  test("scriptProfile: per-block counts, dominance, tie order, " +
    "mixed-script and empty docs") {
    val docs = Seq(
      (1L, "hello world"),                 // latin only
      (2L, "привет мир"),                  // cyrillic
      (3L, "こんにちは 世界"),               // cjk (kana + han)
      (4L, "مرحبا"),                       // arabic
      (5L, "ab пр"),                       // 2-2 tie → latin (listed first)
      (6L, "12345"),                       // digits only
      (7L, "spam спам 広告 123"),           // mixed: latin 4, cyr 4 → latin
      (8L, "!!! ???"),                     // none
      (9L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextOps.scriptProfile(docs).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6))).toMap
    assert(got(1L) == ((10L, 0L, 0L, 0L, 0L, "latin")))
    assert(got(2L) == ((0L, 9L, 0L, 0L, 0L, "cyrillic")))
    assert(got(3L)._3 == 7L && got(3L)._6 == "cjk")
    assert(got(4L) == ((0L, 0L, 0L, 5L, 0L, "arabic")))
    assert(got(5L) == ((2L, 2L, 0L, 0L, 0L, "latin"))) // tie → first listed
    assert(got(6L) == ((0L, 0L, 0L, 0L, 5L, "digit")))
    assert(got(7L)._6 == "latin")
    assert(got(8L) == ((0L, 0L, 0L, 0L, 0L, "none")))
    assert(got(9L) == ((0L, 0L, 0L, 0L, 0L, "none"))) // null text
  }

  test("videoDhash: frame 0 equals the image dhash of the same frame; " +
    "shared-frame join finds the snippet pair") {
    // dHash sees gradient SIGNS, so frames must differ in sign pattern,
    // not just brightness: diag/up/down/antidiag/checker are pairwise
    // sign-distinct
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
    val diag = png((x, y) => if (x == y) 255 else 0)
    val up = png((x, _) => x * 20)
    val down = png((x, _) => (7 - x) * 20)
    val anti = png((x, y) => if (x + y == 7) 255 else 0)
    val checker = png((x, _) => (x % 2) * 255)
    def gfv(frames: Array[Byte]*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.write(Array[Byte]('G', 'F', 'V', '1'))
      out.writeInt(frames.length)
      frames.foreach { f => out.writeInt(f.length); out.write(f) }
      bos.toByteArray
    }
    val assets = Seq(
      (1L, "video", gfv(diag, up)),
      (2L, "video", gfv(down, diag)), // re-upload carrying the diag frame
      (3L, "video", gfv(anti, checker)))
      .toDF("asset_id", "modality", "payload")
    val fps = Multimodal.videoDhash(assets).orderBy("id", "frame").collect()
    assert(fps.length == 6)
    // a frame hashes identically wherever it appears
    assert(fps(0).getLong(2) == Multimodal.dhash56(diag))
    assert(fps(3).getLong(2) == Multimodal.dhash56(diag))
    val pairs = Multimodal.videoNearDupByFrame(assets).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1),
      r.getAs[Long]("shared_frames"))).toSeq == Seq((1L, 2L, 1L)))
  }

  test("videoNearDupByFrame maxDf: a corpus-wide intro card is excluded " +
    "from the pair join; genuine snippet pairs survive") {
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
    def gfv(frames: Array[Byte]*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.write(Array[Byte]('G', 'F', 'V', '1'))
      out.writeInt(frames.length)
      frames.foreach { f => out.writeInt(f.length); out.write(f) }
      bos.toByteArray
    }
    // intro card opens EVERY video (df=4); `up` is the genuine shared
    // snippet between v1 and v2 (df=2); remaining frames are unique
    val intro = png((x, y) => if (x == y) 255 else 0)
    val up = png((x, _) => x * 20)
    val down = png((x, _) => (7 - x) * 20)
    val anti = png((x, y) => if (x + y == 7) 255 else 0)
    val checker = png((x, _) => (x % 2) * 255)
    val assets = Seq(
      (1L, "video", gfv(intro, up)),
      (2L, "video", gfv(intro, up)),
      (3L, "video", gfv(intro, down)),
      (4L, "video", gfv(intro, anti, checker)))
      .toDF("asset_id", "modality", "payload")
    // uncapped: the intro card alone pairs all 6 combinations
    val uncapped = Multimodal.videoNearDupByFrame(assets,
      maxDf = Int.MaxValue).collect()
    assert(uncapped.length == 6, s"intro card should pair everything, " +
      s"got ${uncapped.length}")
    // capped at 3: intro (df=4) excluded, only the true snippet pair
    // survives — and its count no longer includes the intro frame
    val capped = Multimodal.videoNearDupByFrame(assets, maxDf = 3)
      .collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1),
      r.getAs[Long]("shared_frames"))).toSeq == Seq((1L, 2L, 1L)))
    // the cap threads through curateAssets: with the cap, only v2 (the
    // true re-upload of v1) is dropped; uncapped, the intro card chains
    // all four videos into one cluster keeping only v1
    val curatedCapped = graft.pipeline.Pipelines.curateAssets(assets,
      frameMaxDf = 3)
    assert(curatedCapped.select("asset_id").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 3L, 4L))
    val curatedUncapped = graft.pipeline.Pipelines.curateAssets(assets,
      frameMaxDf = Int.MaxValue)
    assert(curatedUncapped.select("asset_id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("videoNearDupByFrame decodes each payload exactly once under the " +
    "default maxDf cap (distinct-frame cache feeds every consumer)") {
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
    def gfv(frames: Array[Byte]*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.write(Array[Byte]('G', 'F', 'V', '1'))
      out.writeInt(frames.length)
      frames.foreach { f => out.writeInt(f.length); out.write(f) }
      bos.toByteArray
    }
    val diag = png((x, y) => if (x == y) 255 else 0)
    val up = png((x, _) => x * 20)
    val down = png((x, _) => (7 - x) * 20)
    // an accumulator-instrumented payload column: every decode pass over
    // the source evaluates the udf once per video row; cached distinct
    // frames mean one pass even though the capped plan has three
    // consumers (hot-frame count + two self-join sides)
    val acc = spark.sparkContext.longAccumulator("payload-decodes")
    val tick = udf { (p: Array[Byte]) => acc.add(1); p }
    val assets = Seq(
      (1L, "video", gfv(diag, up)),
      (2L, "video", gfv(down, diag)),
      (3L, "video", gfv(up, down)))
      .toDF("asset_id", "modality", "raw")
      .withColumn("payload", tick(col("raw"))).drop("raw")
    val pairs = Multimodal.videoNearDupByFrame(assets, maxDf = 1000)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(acc.value == 3L,
      s"payload decoded ${acc.value} times for 3 videos " +
        "(expected once each — is distinctFrames cached before the cap?)")
    spark.catalog.clearCache() // release the caller-owned frame cache
  }

  test("splitLeakage splitBy group: zero crossing pairs when near-dups " +
    "live inside one group; row split still leaks them") {
    val dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // 30 docs in one source, every one a near-dup of the others: a row
    // split almost surely scatters them across train/val/test
    val docs = (0L until 30L).map(i => (i, s"$dup token$i", "mirror"))
      .toDF("doc_id", "text", "source")
    val rowLeaks = Dedup.splitLeakage(docs, numHashes = 16, bands = 4)
    assert(rowLeaks.count() > 0, "row split should scatter the near-dups")
    val groupLeaks = Dedup.splitLeakage(docs, numHashes = 16, bands = 4,
      splitBy = Some(col("source")))
    assert(groupLeaks.count() == 0,
      "one group = one split: crossing pairs are impossible")
  }

  test("dhash56: monotone gradient sets all 56 bits, reverse sets none; " +
    "identical payloads pair at hamming 0 through the banded join") {
    def png(f: Int => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 16) {
        val v = f(x); img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val up = png(x => x * 10)          // luma strictly increasing
    val down = png(x => (15 - x) * 10) // strictly decreasing
    assert(Multimodal.dhash56(up) == (1L << 56) - 1)
    assert(Multimodal.dhash56(down) == 0L)
    val assets = Seq((1L, "image", up), (2L, "image", up),
      (3L, "image", down), (4L, "audio", up))
      .toDF("asset_id", "modality", "payload")
    val pairs = Multimodal.imageNearDup(assets, maxHamming = 3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1),
      r.getAs[Number]("hamming").longValue)).toSeq == Seq((1L, 2L, 0L)))
    // scale path: identical fingerprints collapse to a min-id keeper,
    // no pair expansion; the audio row never enters
    val groups = Multimodal.imageDupGroups(assets).orderBy("id").collect()
    assert(groups.map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3),
      r.getLong(4))).toSeq ==
      Seq((1L, 1L, true, 2L), (2L, 1L, false, 2L), (3L, 3L, true, 1L)))
  }

  test("silhouette: closed-form two-cluster geometry, singleton cluster " +
    "scores 1, per-cluster means aggregate the point scores") {
    val embs = Seq(
      (0L, 0, Array(0.0f, 0.0f)), (1L, 0, Array(0.0f, 2.0f)),
      (2L, 1, Array(10.0f, 0.0f)), (3L, 1, Array(10.0f, 2.0f)),
      (4L, 2, Array(5.0f, 50.0f))) // singleton: a = 0 → s = 1
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.silhouette(embs, dim = 2)
      .orderBy("vec_id").collect()
    val sqrt101 = math.sqrt(101.0)
    // point 0: own centroid (0,1) → a=1; nearest other (10,1) → √101
    assert(math.abs(got(0).getAs[Double]("a") - 1.0) < 1e-9)
    assert(math.abs(got(0).getAs[Double]("b") - sqrt101) < 1e-9)
    assert(math.abs(got(0).getAs[Double]("s") - (sqrt101 - 1) / sqrt101)
      < 1e-9)
    assert(got(4).getAs[Double]("a") == 0.0)
    assert(got(4).getAs[Double]("s") == 1.0)

    val by = Similarity.silhouetteByCluster(embs, dim = 2)
      .orderBy("label").collect()
    assert(by.map(_.getAs[Long]("n_points")).toSeq == Seq(2L, 2L, 1L))
    assert(by(2).getAs[Double]("mean_silhouette") == 1.0)
    val expect0 = (0 until 2).map(_ => (sqrt101 - 1) / sqrt101).sum / 2
    assert(math.abs(by(0).getAs[Double]("mean_silhouette") - expect0) < 1e-5)
  }

  test("projectExpr: broadcast MatVec route ≡ literal-plane route " +
    "bit-for-bit; large-outDim plan carries no weight literals") {
    val dim = 16
    val vecs = (0L until 20L).map(i => (i, Array.tabulate(dim)(d =>
      (Similarity.planeComponent((i + 900).toInt, d) * 2).toFloat)))
      .toDF("vec_id", "embedding")
    val v = col("embedding").cast("array<double>")
    def run(maxW: Long) = vecs
      .select(col("vec_id"),
        Similarity.projectExpr(v, 8, dim, seed = 2,
          maxPlanWeights = maxW).as("p"))
      .orderBy("vec_id").collect().map(_.getSeq[Double](1))
    val viaLit = run(100000L)   // 8·16 = 128 weights → literal path
    val viaBc = run(0L)         // forced broadcast-kernel path
    viaLit.zip(viaBc).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) =>
        assert(x == y, s"paths diverge: $x vs $y") }
    }
    // the broadcast plan must not inline the weight matrix (analyzed
    // plan: the optimizer constant-folds this local relation into a
    // LocalTableScan, which would hide the expression under test)
    val plan = vecs.select(Similarity.projectExpr(v, 8, dim, seed = 2,
      maxPlanWeights = 0).as("p")).queryExecution.analyzed.toString
    assert(plan.contains("mat_vec_project"), s"kernel missing:\n$plan")
    val firstWeight = java.lang.Double.toString(
      Similarity.planeComponent(2 << 16, 0))
    assert(!plan.contains(firstWeight), "weights inlined in the plan")
  }

  test("projectedLshTopK: candidates come from the corpus, driver and " +
    "row-side projections agree, self-query ranks itself first") {
    val dim = 16
    val vecs = (0L until 50L).map(i => (i, Array.tabulate(dim)(d =>
      (Similarity.planeComponent((i + 500).toInt, d) * 3).toFloat)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 7L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    // driver-side projection ≡ row-side expression (same sequential dot)
    val rowProj = Similarity.randomProject(vecs.filter(col("vec_id") === 7L),
      outDim = 4, dim = dim, seed = 1).head().getSeq[Double](1)
    val drvProj = Similarity.projectVector(q, outDim = 4, seed = 1)
    rowProj.zip(drvProj).foreach { case (r, d) =>
      assert(r == d, s"projection mismatch $r vs $d") }
    val got = Similarity.projectedLshTopK(vecs, q, k = 5, outDim = 4,
      planes = 3, dim = dim).collect()
    assert(got.length <= 5 && got.nonEmpty)
    // the query vector is in the corpus: it lands in its own bucket and
    // cosine(self) = 1 ranks first
    assert(got.head.getLong(0) == 7L)
    assert(math.abs(got.head.getDouble(1) - 1.0) < 1e-12)
  }

  test("projectedAnnRecall: one-pass fusion matches the composed " +
    "recallAtK(bruteForceTopK, projectedLshTopK) exactly") {
    val dim = 16
    val vecs = (0L until 80L).map(i => (i, Array.tabulate(dim)(d =>
      (Similarity.planeComponent((i + 900).toInt, d) * 3).toFloat)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 11L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val composed = Similarity.recallAtK(
      Similarity.bruteForceTopK(vecs, typedLit(q.toSeq), 5, dim = dim),
      Similarity.projectedLshTopK(vecs, q, 5, outDim = 4, planes = 3,
        dim = dim), 5).head()
    val fused = Similarity.projectedAnnRecall(vecs, q, 5, outDim = 4,
      planes = 3, dim = dim).head()
    assert(fused.getAs[Long]("hits") == composed.getAs[Long]("hits"))
    assert(fused.getAs[Double]("recall") == composed.getAs[Double]("recall"))
    // sanity: the probe gate actually bites (recall is measured, not 1.0
    // by construction) and the exact side is a real top-k
    assert(fused.getAs[Long]("hits") >= 0L &&
      fused.getAs[Long]("hits") <= 5L)
  }

  test("topKByScore: bounded exact top-k — score desc, id asc ties, " +
    "null scores skipped, merge-stable across partitionings") {
    import graft.functions.SketchAggregates.topKByScore
    val rows = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (4L, 0.1),
      (5L, 0.7), (6L, 0.9), (7L, 0.2)).toDF("id", "s")
    def got(parts: Int): Seq[(Double, Long)] =
      rows.repartition(parts)
        .agg(topKByScore(col("s"), col("id"), 4).as("t"))
        .select(explode(col("t")).as("e"))
        .select(col("e.score"), col("e.id")).collect()
        .map(r => (r.getDouble(0), r.getLong(1))).toSeq
    val expect = Seq((0.9, 2L), (0.9, 3L), (0.9, 6L), (0.7, 5L))
    assert(got(1) == expect)
    assert(got(7) == expect, "merge across partitions changed the result")
    // null scores don't participate
    val withNull = rows.agg(topKByScore(when(col("s") > 0.6, col("s")),
      col("id"), 10).as("t"))
      .select(size(col("t"))).head().getInt(0)
    assert(withNull == 4)
  }

  test("topKByScore: a non-DOUBLE score or non-BIGINT id fails analysis") {
    import graft.functions.SketchAggregates.topKByScore
    val rows = Seq((1, 0.5f), (2, 0.9f)).toDF("id", "s")
    intercept[org.apache.spark.sql.AnalysisException](
      rows.agg(topKByScore(col("s").cast("double"), col("id"), 2)))
    intercept[org.apache.spark.sql.AnalysisException](
      rows.agg(topKByScore(col("s"), col("id").cast("long"), 2)))
    // the valid typing still analyzes and runs
    assert(rows.agg(topKByScore(col("s").cast("double"),
      col("id").cast("long"), 2)).head().getSeq[AnyRef](0).size == 2)
  }

  test("kAnonymity: closed-form counts, fully-anonymous corpus reports " +
    "zero risk, violations lists the small classes") {
    // quasi (a,x): 3 rows; (a,y): 1 row; (b,x): 2 rows  → k=3 risk = 3/6
    val df = Seq(("a", "x"), ("a", "x"), ("a", "x"), ("a", "y"),
      ("b", "x"), ("b", "x")).toDF("g1", "g2")
    val r = graft.ops.Quality.kAnonymity(df, Seq("g1", "g2"), k = 3).head()
    assert(r.getAs[Long]("n_rows") == 6L)
    assert(r.getAs[Long]("n_groups") == 3L)
    assert(r.getAs[Long]("groups_below_k") == 2L)
    assert(r.getAs[Long]("rows_below_k") == 3L)
    assert(r.getAs[Double]("at_risk_fraction") == 0.5)
    assert(r.getAs[Long]("min_group_size") == 1L)

    val safe = graft.ops.Quality.kAnonymity(df.filter(col("g2") === "x"),
      Seq("g1"), k = 2).head()
    assert(safe.getAs[Long]("rows_below_k") == 0L)
    assert(safe.getAs[Double]("at_risk_fraction") == 0.0)

    val v = graft.ops.Quality.kAnonymityViolations(df, Seq("g1", "g2"),
      k = 3).orderBy("g1", "g2").collect()
    assert(v.map(r0 => (r0.getString(0), r0.getString(1),
      r0.getAs[Long]("group_n"))).toSeq == Seq(("a", "y", 1L), ("b", "x", 2L)))
  }

  test("decontaminateFuzzy drops the paraphrased train leak that exact " +
    "8-gram containment misses; unrelated train docs survive") {
    // a word substituted every ~7 tokens: high 3-gram Jaccard with the
    // test doc, but never 8 consecutive shared tokens
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs away to the old stone house by the river bank and sleeps " +
      "there quietly until the bright morning sun rises again slowly"
    val para = "the quick brown fox leaps over the lazy dog and soon " +
      "runs away to the old granite house by the river bank yet sleeps " +
      "there quietly until the pale morning sun rises again slowly"
    val train = Seq(
      (1L, para),
      (2L, "completely unrelated words about catalyst tungsten codegen " +
        "shuffles partitions and broadcast joins in a query engine"))
      .toDF("doc_id", "text")
    val testDf = Seq((10L, base)).toDF("doc_id", "text")
    val kept = Dedup.decontaminateFuzzy(train, testDf, minJaccard = 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(2L), s"kept $kept")
    // the exact 8-gram pass keeps BOTH — the leakage class this operator
    // exists to catch
    val exactKept = graft.text.TextOps.decontaminate(train, testDf, n = 8)
    assert(exactKept.count() == 2)
  }

  test("incrementalNewFuzzyIndexed: near-dup batch docs drop against the " +
    "stored signatures, fresh and null-text docs pass, id spaces may " +
    "overlap, parity with the recompute banding") {
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs away to the old stone house by the river bank and sleeps " +
      "there quietly until the bright morning sun rises again slowly"
    // ONE word changed: Jaccard ≈ 0.85, inside the 4-band S-curve (the
    // 0.47-Jaccard paraphrase class needs the 16-band production config)
    val para = base.replace("bright", "dim")
    val corpus = Seq(
      (1L, base),
      (2L, "completely unrelated words about catalyst tungsten codegen " +
        "shuffles partitions and broadcast joins in a query engine"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, para), // near-dup of corpus doc 1 — same id as corpus doc: safe
      (7L, "a genuinely fresh document about sailing boats across the " +
        "wide open sea under a grey sky full of wheeling gulls"),
      (8L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val idx = Dedup.buildSignatureIndex(corpus, numHashes = 16, bands = 4)
    val kept = Dedup.incrementalNewFuzzyIndexed(batch, idx,
        minJaccard = 0.3, numHashes = 16, bands = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(kept == Seq(7L, 8L), s"kept $kept")
    // parity: the same verdicts as re-banding corpus+batch from text
    // with the est-jaccard criterion (tagged union, crossing pairs only)
    val t2 = corpus.select((col("doc_id") * 2).as("cid"),
      col("text").as("ctext"))
    val e2 = batch.select((col("doc_id") * 2 + 1).as("cid"),
      col("text").as("ctext"))
    val refDrop = Dedup.minhashCandidates(t2.unionByName(e2), "cid",
        "ctext", numHashes = 16, bands = 4)
      .filter((col("id_a") % 2) =!= (col("id_b") % 2))
      .filter(col("est_jaccard") >= 0.3)
      .select(when(col("id_a") % 2 === 1, col("id_a"))
        .otherwise(col("id_b")).as("cid"))
      .select(expr("cid div 2").as("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val idxDrop = batch.select("doc_id").collect().map(_.getLong(0))
      .toSet -- kept
    assert(idxDrop == refDrop, s"indexed dropped $idxDrop, ref $refDrop")
  }

  test("compressionRatio: JDK parity, repetition orders below prose, " +
    "empty is 1.0, null stays null") {
    val rep = "spam mail spam mail " * 100
    // pseudo-random-ish distinct tokens: little for deflate to reuse
    val prose = (0 until 200)
      .map(i => s"w${(i * 2654435761L) % 99991}").mkString(" ")
    def jdk(s: String): Double = {
      val raw = s.getBytes("UTF-8")
      val d = new java.util.zip.Deflater(6, false)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](8192)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      d.end()
      n.toDouble / raw.length
    }
    val df = Seq((1L, rep), (2L, prose), (3L, ""), (4L, null))
      .toDF("id", "text")
    val got = df.select(col("id"),
        graft.text.TextOps.compressionRatio(col("text")).as("r"))
      .orderBy("id").collect()
    // bit-exact parity with a directly-driven JDK Deflater at the same
    // fixed level — the determinism contract the missing SQL oracle
    // would otherwise cover
    assert(got(0).getDouble(1) == jdk(rep))
    assert(got(1).getDouble(1) == jdk(prose))
    // the ordering property the quality rule relies on
    assert(got(0).getDouble(1) < got(1).getDouble(1) * 0.5,
      s"repetitive text should compress far below prose: " +
        s"${got(0).getDouble(1)} vs ${got(1).getDouble(1)}")
    assert(got(2).getDouble(1) == 1.0) // empty: uncompressible convention
    assert(got(3).isNullAt(1))
  }

  test("htmlExtract: blocks, comments, tags, one-level entities, " +
    "whitespace collapse") {
    import graft.text.TextOps
    def x(s: String): String = Seq(s).toDF("h")
      .select(TextOps.htmlExtract(col("h"))).head().getString(0)
    assert(x("<html><head><style>p{a:1}</style>" +
      "<script>if (1 < 2) x();</script></head>" +
      "<body><h1>T</h1><p>a  b</p><!-- no --></body></html>") == "T a b")
    // exactly ONE level of unescape: &amp; runs last, so double-escaped
    // text surfaces as its single-escaped form, never as markup
    assert(x("<p>fish &amp; chips &amp;lt;not a tag&amp;gt;</p>") ==
      "fish & chips &lt;not a tag&gt;")
    assert(x("A &lt;b&gt; &quot;q&quot; &#39;s&#39; B&nbsp;C") ==
      "A <b> \"q\" 's' B C")
    // the documented cross-kind pairing limitation strips, not crashes
    assert(x("<style>x</script>rest") == "rest")
    // null-safe
    assert(Seq((1, null.asInstanceOf[String])).toDF("i", "h")
      .select(TextOps.htmlExtract(col("h"))).head().isNullAt(0))
  }

  test("gopherRules: closed-form counts, fractions, and pass verdict") {
    import graft.text.TextOps
    val df = Seq(
      (1L, "the cat sat on the mat with a hat"),
      (2L, "- item one\n- item two\nthis line trails..."))
      .toDF("doc_id", "text")
    val r = TextOps.gopherRules(df, minWords = 5, minMeanWord = 2.0)
      .orderBy("doc_id").collect()
    val r1 = r(0)
    assert(r1.getLong(1) == 9)                           // n_words
    assert(r1.getDouble(2) == 25.0 / 9)                  // mean_word_len
    assert(r1.getDouble(3) == 1.0)                       // alpha_frac
    assert(r1.getDouble(4) == 0.0 && r1.getDouble(5) == 0.0)
    assert(r1.getLong(6) == 2)                           // the, with
    assert(r1.getLong(7) == 1)                           // passes
    val r2 = r(1)
    // words: -, item, one, -, item, two, this, line, trails...
    assert(r2.getLong(1) == 9)
    assert(r2.getDouble(2) == 33.0 / 9)
    assert(r2.getDouble(3) == 7.0 / 9)  // the two "-" are non-alpha
    assert(r2.getDouble(4) == 2.0 / 3)  // two bullet lines of three
    assert(r2.getDouble(5) == 1.0 / 3)  // one trailing-ellipsis line
    assert(r2.getLong(6) == 0)
    assert(r2.getLong(7) == 0)          // ellipsis+alpha+stopwords fail
  }

  test("gopherRulesScripted: a CJK doc the word path misgates passes " +
    "the char-dispatched path; latin docs re-gate IDENTICALLY to " +
    "gopherRules; scriptAwareTokenCount mixed rule") {
    import graft.text.TextOps
    // 60 han chars, zero spaces: whitespace splitting sees ONE word
    val cjkText = "深度学习模型需要大量高质量的训练数据" * 3 + "。\n" +
      "这些数据必须经过仔细的清洗和过滤才能使用" + "。"
    val latin1 = "the cat sat on the mat with a hat of straw and more " +
      "words to clear the fifty word floor " * 3
    val df = Seq((1L, cjkText), (2L, latin1)).toDF("doc_id", "text")
    // OLD path: the CJK doc fails three ways (n_words=2 lines → below
    // floor, mean_word_len huge, no English stopwords)
    val old = TextOps.gopherRules(df).orderBy("doc_id").collect()
    assert(old(0).getLong(7) == 0, "old path unexpectedly passed CJK")
    // NEW path: dominant=cjk → char counting (54+20+2 han + enders) ≥ 50
    val neu = TextOps.gopherRulesScripted(df).orderBy("doc_id").collect()
    val c = neu(0)
    assert(c.getString(1) == "cjk")
    assert(c.getLong(8) == 1, s"scripted path must pass the CJK doc: $c")
    // n_words: 74 han chars + 2 full-width "。" are NOT cjk-class →
    // they join the residue as 0 words (blanked? no — 。 is outside the
    // class and whitespace-splits as 2 residue tokens glued to nothing)
    assert(c.getLong(2) >= 74, s"char count too low: ${c.getLong(2)}")
    // latin doc: every column equals the word-path report
    val l = neu(1)
    val ol = old(1)
    assert(l.getString(1) == "latin")
    assert(l.getLong(2) == ol.getLong(1) &&
      l.getDouble(3) == ol.getDouble(2) &&
      l.getDouble(4) == ol.getDouble(3) &&
      l.getDouble(5) == ol.getDouble(4) &&
      l.getDouble(6) == ol.getDouble(5) &&
      l.getLong(7) == ol.getLong(6) && l.getLong(8) == ol.getLong(7))
    // mixed-script counting: 1 latin word + 2 han chars
    val m = Seq(Tuple1("GPU加速 training")).toDF("t")
      .select(TextOps.scriptAwareTokenCount(col("t"))).head().getLong(0)
    assert(m == 4, s"GPU + training + 2 han = 4, got $m")
  }

  test("c4LineFilter scriptAware: space-free CJK lines survive the " +
    "word minimum and full-width enders count as terminal punctuation; " +
    "legacy mode byte-identical when off") {
    import graft.text.TextOps
    val docs = Seq(
      (1L, "深度学习模型需要大量数据。\nshort line\n" +
        "the quick brown fox jumps over the lazy dog.")).toDF(
      "doc_id", "text")
    val legacy = TextOps.c4LineFilter(docs).head()
    // legacy: CJK line = 1 word (< 5) and 。 is not a terminal ender →
    // only the english sentence survives
    assert(legacy.getAs[Long]("kept_lines") == 1L)
    val aware = TextOps.c4LineFilter(docs, scriptAware = true).head()
    assert(aware.getAs[Long]("kept_lines") == 2L,
      s"CJK line must survive: $aware")
    assert(aware.getAs[String]("cleaned").contains("深度学习"))
    // scriptAware=false is the byte-identical legacy path
    assert(TextOps.c4LineFilter(docs).head().getAs[String]("cleaned") ==
      legacy.getAs[String]("cleaned"))
  }

  test("bootstrapEvalCI: all-pass/all-fail models pin the interval " +
    "exactly, resample accuracies are exact k/n quotients, NULL " +
    "verdicts are excluded, and the estimate is run-stable") {
    import graft.ops.Chat
    val results = (
      (1 to 8).map(i => ("always", i.toLong, Some(1))) ++
      (1 to 8).map(i => ("never", i.toLong, Some(0))) ++
      (1 to 8).map(i => ("mixed", i.toLong, Some(i % 2))) ++
      Seq(("mixed", 99L, Option.empty[Int]))
    ).toDF("model", "item_id", "passed")
    val got = Chat.bootstrapEvalCI(results, b = 20)
      .orderBy("model").collect()
    val by = got.map(r => r.getString(0) -> r).toMap
    // all-pass: every resample draws only passes — CI collapses to 1.0
    assert(by("always").getLong(1) == 8L &&
      by("always").getDouble(2) == 1.0 &&
      by("always").getDouble(3) == 1.0 && by("always").getDouble(4) == 1.0)
    assert(by("never").getDouble(3) == 0.0 &&
      by("never").getDouble(4) == 0.0)
    // mixed: the NULL verdict is excluded (n stays 8), accuracy is the
    // exact quotient, and the CI bounds are k/8 order statistics
    val m = by("mixed")
    assert(m.getLong(1) == 8L && m.getDouble(2) == 0.5)
    val (lo8, hi8) = (m.getDouble(3), m.getDouble(4))
    assert(lo8 <= hi8 && lo8 >= 0.0 && hi8 <= 1.0)
    assert((lo8 * 8).isWhole && (hi8 * 8).isWhole,
      s"bounds not exact k/8: $lo8 $hi8")
    // deterministic: a second run reproduces every value bit-for-bit
    val again = Chat.bootstrapEvalCI(results, b = 20)
      .orderBy("model").collect()
    assert(got.toSeq == again.toSeq)
  }

  test("bootstrapPairedDelta: dominance pins the interval, equal " +
    "verdicts collapse it to zero (insignificant), only the SHARED " +
    "item set counts, runs are bit-stable") {
    import graft.ops.Chat
    val results = (
      (1 to 10).map(i => ("a", i.toLong, 1)) ++   // A sweeps
      (1 to 10).map(i => ("b", i.toLong, 0)) ++
      (1 to 10).map(i => ("c", i.toLong, i % 2)) ++ // c ≡ d per item
      (1 to 10).map(i => ("d", i.toLong, i % 2)) ++
      Seq(("a", 99L, 1))                          // b lacks item 99
    ).toDF("model", "item_id", "passed")
    val dom = Chat.bootstrapPairedDelta(results, "a", "b", b = 20)
      .head()
    assert(dom.getLong(2) == 10L, "unshared item must not count")
    assert(dom.getDouble(3) == 1.0 && dom.getDouble(4) == 1.0 &&
      dom.getDouble(5) == 1.0 && dom.getInt(6) == 1)
    // identical per-item verdicts: every resample delta is exactly 0 —
    // the PAIRING at work (an unpaired interval would still widen)
    val eq = Chat.bootstrapPairedDelta(results, "c", "d", b = 20).head()
    assert(eq.getDouble(3) == 0.0 && eq.getDouble(4) == 0.0 &&
      eq.getDouble(5) == 0.0 && eq.getInt(6) == 0)
    val again = Chat.bootstrapPairedDelta(results, "a", "b", b = 20)
      .head()
    assert(dom == again)
  }

  test("exactSubstrSpans: a shifted duplicated span is found with exact " +
    "maximal boundaries where CDC shares no chunk; repeats report one " +
    "row per occurrence diagonal; cut manifest merges keep-first") {
    import graft.functions.VectorExpressions
    val base = "the quick brown fox jumps over the lazy dog while " +
      "ninety nine red balloons drift past the old stone tower at dawn " +
      "and the river bends slowly through the quiet green valley " +
      "toward the open sea"
    // [80, 145) sits strictly inside base's 71-char CDC chunk
    // [78, 149) — no content-defined boundary inside the span, so CDC
    // cannot re-share any chunk of it (the missed class, by
    // construction rather than luck)
    val span = base.substring(80, 145) // 65 chars, offset 80 in doc 1
    // flanks chosen NOT to match base's chars around the span — the
    // miner is maximal and would correctly extend through equal flanks
    val d2 = "zqwxykQ" + span + "Xtrailing words entirely different " +
      "here with more padding so lengths vary"
    val docs = Seq((1L, base), (2L, d2)).toDF("doc_id", "text")
    // the handle variant: library callers unpersist the gram cache
    // directly instead of a blanket clearCache
    val (spansDf, gramCache) =
      Dedup.exactSubstrSpansWithHandle(docs, minLen = 40)
    val got = spansDf.orderBy("id_a", "id_b", "a_start").collect()
    gramCache.unpersist(false)
    assert(gramCache.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE)
    assert(got.length == 1, s"got ${got.toSeq}")
    val r = got(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getInt(2) == 80 && r.getInt(3) == 145, s"a span $r")
    assert(r.getInt(4) == 7 && r.getInt(5) == 72, s"b span $r")
    assert(r.getInt(6) == 65)
    // the copied text matches char-for-char at the reported offsets
    assert(base.substring(r.getInt(2), r.getInt(3)) ==
      d2.substring(r.getInt(4), r.getInt(5)))
    // CDC's missed class: the same pair shares NO chunk digest (no
    // content-defined boundary re-synchronizes inside this span), yet
    // the exact miner found it — the probabilistic-vs-guaranteed gap
    val chunksOf = (t: String) => Seq(t).toDF("t")
      .select(explode(VectorExpressions.cdcChunks(col("t"), 16)).as("c"))
      .collect().map(_.getString(0)).toSet
    val shared = chunksOf(base).intersect(chunksOf(d2))
    assert(shared.isEmpty,
      s"CDC unexpectedly re-shared ${shared.size} chunks — pick a new span")
    // two occurrences of the same span → two diagonals, one row each
    val d3 = "abcQ" + span + "Xmid filler text that is long enough " +
      "to separate the two copiesQ" + span + "Xtail"
    val rep = Dedup.exactSubstrSpans(
      Seq((1L, base), (3L, d3)).toDF("doc_id", "text"), minLen = 40)
      .orderBy("b_start").collect()
    spark.catalog.clearCache()
    assert(rep.length == 2 && rep.forall(_.getInt(6) == 65),
      s"got ${rep.toSeq}")
    // keep-first cut manifest: doc 3 (higher id) cuts both, merged only
    // if overlapping — here disjoint, two intervals
    val cuts = Dedup.exactSubstrCutManifest(
      Seq((1L, base), (3L, d3)).toDF("doc_id", "text")
        .transform(d => Dedup.exactSubstrSpans(d, minLen = 40)))
      .orderBy("cut_start").collect()
    spark.catalog.clearCache()
    assert(cuts.length == 2 && cuts.forall(_.getLong(0) == 3L))
    assert(cuts(0).getInt(1) == 4 && cuts(0).getInt(2) == 69)
    // overlapping spans merge: synthesize two overlapping cut rows;
    // a DUPLICATE interval (two partners flagging the same cut)
    // collapses to one
    val merged = Dedup.exactSubstrCutManifest(
      Seq((1L, 9L, 0, 10, 5, 50), (1L, 9L, 0, 10, 40, 80),
        (2L, 9L, 0, 10, 40, 80), (1L, 9L, 0, 10, 80, 99))
        .toDF("id_a", "id_b", "a_start", "a_end", "b_start", "b_end"))
      .collect()
    assert(merged.length == 1 && merged(0).getInt(1) == 5 &&
      merged(0).getInt(2) == 99, s"got ${merged.toSeq}")
    // applying the manifest rewrites the text: cut [4,69) and the
    // second copy's interval out of d3; untouched docs pass verbatim
    val corpus3 = Seq((1L, base), (3L, d3)).toDF("doc_id", "text")
    val applied = Dedup.exactSubstrApplyCuts(corpus3,
      Dedup.exactSubstrCutManifest(
        Dedup.exactSubstrSpans(corpus3, minLen = 40)))
      .orderBy("doc_id").collect()
    spark.catalog.clearCache()
    assert(applied(0).getAs[String]("cleaned") == base &&
      applied(0).getAs[Long]("n_cuts") == 0L)
    val c3 = applied(1).getAs[String]("cleaned")
    assert(applied(1).getAs[Long]("n_cuts") == 2L)
    assert(!c3.contains(span.substring(0, 40)), s"span survived: $c3")
    assert(c3.startsWith("abcQ") && c3.endsWith("Xtail"), s"got $c3")
  }

  test("lshRecall: identical docs are always candidates (recall 1), " +
    "empty ground truth reports recall 1 with zero pairs") {
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq((1L, dup), (2L, dup),
      (3L, "completely different text body with no overlap at all here"),
      (4L, "another unrelated document mentioning nothing shared either"))
      .toDF("doc_id", "text")
    val r = Dedup.lshRecall(docs, threshold = 0.9).head()
    assert(r.getAs[Long]("true_pairs") == 1L)   // (1,2) only
    assert(r.getAs[Long]("hit_pairs") == 1L)    // identical sigs collide
    assert(r.getAs[Double]("recall") == 1.0)

    val disjoint = docs.filter(col("doc_id") >= 3L)
    val e = Dedup.lshRecall(disjoint, threshold = 0.5).head()
    assert(e.getAs[Long]("true_pairs") == 0L)
    assert(e.getAs[Double]("recall") == 1.0)
  }

  test("lshRecall sampleFraction: fraction 1 is the full harness; a " +
    "fractional run equals the full harness on the md5-keyed sub-corpus") {
    // 30 near-dup pairs (ids 2i, 2i+1 share a template) so both the
    // sampled and unsampled ground truths are non-empty
    val docs = (0L until 60L).map { i =>
      val pair = i / 2
      (i, s"shared template number $pair with common filler words " +
        s"alpha beta gamma delta epsilon variant token$i")
    }.toDF("doc_id", "text")
    val full = Dedup.lshRecall(docs, threshold = 0.4).head()
    val fullAgain = Dedup.lshRecall(docs, threshold = 0.4,
      sampleFraction = 1.0).head()
    assert(full.toSeq == fullAgain.toSeq,
      "sampleFraction=1.0 must be the identity")
    assert(full.getAs[Long]("true_pairs") > 0L)

    val f = 0.5
    val grid = 1000000
    val subCorpus = docs.filter(
      graft.text.TextOps.hashBucket(col("doc_id"), grid) <
        lit((f * grid).toLong))
    val nSub = subCorpus.count()
    assert(nSub > 0 && nSub < 60,
      s"fixture should split the corpus, kept $nSub of 60")
    // the sampled harness IS the full harness on the deterministic
    // sub-corpus — same docs, same pairs, same counts
    val sampled = Dedup.lshRecall(docs, threshold = 0.4,
      sampleFraction = f).head()
    val manual = Dedup.lshRecall(subCorpus, threshold = 0.4).head()
    assert(sampled.toSeq == manual.toSeq,
      s"sampled ${sampled.toSeq} != manual sub-corpus ${manual.toSeq}")
    // determinism: re-running the sampled harness reproduces it exactly
    val again = Dedup.lshRecall(docs, threshold = 0.4,
      sampleFraction = f).head()
    assert(sampled.toSeq == again.toSeq)
    // a fraction below the 1/grid sampling grid would truncate to an
    // EMPTY sample and report recall=1.0 vacuously — refused up front
    val tooSmall = intercept[IllegalArgumentException] {
      Dedup.lshRecall(docs, threshold = 0.4, sampleFraction = 1e-9)
    }
    assert(tooSmall.getMessage.contains("empty sample"))
  }

  test("randomProject: closed-form on basis vectors, unbiased norm, " +
    "seed changes the planes") {
    val dim = 64; val outDim = 8
    // basis vector e_3: proj_j = planeComponent(j, 3) * sqrt(12/outDim)
    val basis = Seq((1L, Array.tabulate(dim)(i => if (i == 3) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val scale = math.sqrt(12.0 / outDim)
    val got = Similarity.randomProject(basis, outDim, dim = dim)
      .head().getSeq[Double](1)
    (0 until outDim).foreach { j =>
      assert(math.abs(got(j) - Similarity.planeComponent(j, 3) * scale)
        < 1e-12, s"dim $j")
    }
    // unbiased embedding: mean squared-norm ratio over deterministic
    // vectors ≈ 1 (law of large numbers over outDim·n weight draws)
    val vecs = (0L until 40L).map(v => (v, Array.tabulate(dim)(i =>
      (Similarity.planeComponent((v + 100).toInt, i) * 2).toFloat)))
      .toDF("vec_id", "embedding")
    val projs = Similarity.randomProject(vecs, 32, dim = dim)
      .orderBy("vec_id").collect().map(_.getSeq[Double](1))
    val orig = vecs.orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble))
    val ratios = projs.zip(orig).map { case (p, o) =>
      p.map(x => x * x).sum / o.map(x => x * x).sum }
    val mean = ratios.sum / ratios.length
    assert(mean > 0.7 && mean < 1.3, s"mean norm ratio $mean")
    // seeds decorrelate: a different seed yields different coordinates
    val s1 = Similarity.randomProject(basis, outDim, dim = dim, seed = 1)
      .head().getSeq[Double](1)
    assert(got != s1)
  }

  // ---- round-9 additions: fusion, classifier, governance gates ----------

  test("rrfFuse: known ranks fuse to 1/(k+r) sums; single-run docs score " +
    "their one term and agreement wins") {
    val run1 = Seq((1L, 9.0), (2L, 5.0), (3L, 3.0)).toDF("doc_id", "score")
    val run2 = Seq((2L, 0.9), (4L, 0.5)).toDF("doc_id", "score")
    val got = TextOps.rrfFuse(Seq(run1, run2), rrfK = 60, topK = 10)
      .collect()
    val byId = got.map(r => r.getLong(0) -> r).toMap
    assert(byId(2L).getAs[Double]("rrf_score") == 1.0 / 62 + 1.0 / 61)
    assert(byId(2L).getAs[Int]("n_runs") == 2)
    assert(byId(1L).getAs[Double]("rrf_score") == 1.0 / 61)
    assert(byId(4L).getAs[Int]("n_runs") == 1)
    assert(byId(4L).isNullAt(byId(4L).fieldIndex("rank_1")))
    // the doc both runs rank beats every single-run doc
    assert(got.head.getLong(0) == 2L)
    // topK truncates
    assert(TextOps.rrfFuse(Seq(run1, run2), topK = 2).count() == 2)
  }

  test("rrfFuse fuses a lexical (BM25) and a vector (cosine) run over a " +
    "shared id space") {
    val docs = Seq((1L, "spark window dup fast"), (2L, "spark table"),
      (3L, "merge sort")).toDF("doc_id", "text")
    val lex = TextOps.bm25TopK(docs, Seq("spark"), k = 3)
    val embs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val vec = Similarity.bruteForceTopK(embs,
        typedlit(Seq(1.0, 0.0)), k = 3, dim = 2)
      .withColumnRenamed("vec_id", "doc_id")
      .withColumnRenamed("cosine", "score")
    val fused = TextOps.rrfFuse(Seq(lex, vec), topK = 3).collect()
    // docs 1 and 2 appear in both runs (opposite orders: BM25 prefers the
    // shorter doc 2, cosine the exact-match doc 1) and tie exactly at
    // 1/61 + 1/62; doc 3 is vector-only (no 'spark' token for BM25)
    assert(fused.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(fused(0).getAs[Double]("rrf_score") ==
      fused(1).getAs[Double]("rrf_score"))
    assert(fused(2).getAs[Int]("n_runs") == 1)
  }

  test("scoreLinearModel: unit weights count tokens, empty/null docs get " +
    "bias, prob is the sigmoid") {
    val docs = Seq((1L, "a b c"), (2L, "a a"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val w = spark.range(64).select(col("id").cast("int").as("bucket"),
      lit(1.0).as("weight"))
    val got = TextOps.scoreLinearModel(docs, w, numBuckets = 64,
      bias = -2.0).orderBy("doc_id").collect()
    assert(got(0).getAs[Double]("logit") == 1.0)
    assert(got(0).getAs[Int]("label") == 1)
    assert(got(1).getAs[Double]("logit") == 0.0)
    assert(got(1).getAs[Int]("label") == 0)
    assert(got(2).getAs[Double]("logit") == -2.0)
    assert(math.abs(got(2).getAs[Double]("prob")
      - 1.0 / (1 + math.exp(2.0))) < 1e-12)
    // buckets missing from the model score 0, not null
    val w0 = w.filter(col("bucket") === -1)
    val all0 = TextOps.scoreLinearModel(docs, w0, bias = 0.5)
      .orderBy("doc_id").collect()
    assert(all0.forall(_.getAs[Double]("logit") == 0.5))
  }

  test("blocklistStats/blocklistGate: case-folded counts, exact fraction, " +
    "threshold gate") {
    val docs = Seq((1L, "bad word bad"), (2L, "all clean here"),
      (3L, "BAD upper"), (4L, "")).toDF("doc_id", "text")
    val stats = TextOps.blocklistStats(docs, Seq("bad"))
      .orderBy("doc_id").collect()
    assert(stats(0).getAs[Long]("n_flagged") == 2)
    assert(stats(0).getAs[Double]("flagged_fraction") == 2.0 / 3)
    assert(stats(1).getAs[Long]("n_flagged") == 0)
    assert(stats(2).getAs[Long]("n_flagged") == 1)
    assert(stats(3).getAs[Long]("n_tokens") == 0)
    assert(stats(3).getAs[Double]("flagged_fraction") == 0.0)
    val kept = TextOps.blocklistGate(docs, Seq("bad"), maxFraction = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L))
  }

  test("detectLicense: phrase classes, precedence, unknown fallback") {
    val cases = Seq(
      (1L, "Licensed under the Apache License, Version 2.0"),
      (2L, "Released under the MIT License"),
      (3L, "Creative Commons Attribution 4.0"),
      (4L, "GNU General Public License v3"),
      (5L, "Copyright 2020. All rights reserved."),
      (6L, "just some text"),
      (7L, "Apache License 2.0; GPL-compatible additions"))
      .toDF("doc_id", "text")
    val got = cases.select(col("doc_id"),
        TextOps.detectLicense(col("text")).as("l"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(got.toSeq == Seq("apache-2.0", "mit", "cc-by", "gpl",
      "proprietary", "unknown", "apache-2.0"))
    // null-safe: null text tags unknown
    val n = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(n.select(TextOps.detectLicense(col("text")))
      .head().getString(0) == "unknown")
  }

  test("extractLinks: both quote styles, case-insensitive attr, document " +
    "order, null-safe") {
    val html = Seq((1L,
      "<a href=\"https://a.com/x\">1</a> <img src='i.png'> " +
        "<a href='/rel'>2</a> <link HREF=\"https://b.org/c.css\">"))
      .toDF("doc_id", "html")
    val links = html.select(TextOps.extractLinks(col("html")))
      .head().getSeq[String](0)
    assert(links == Seq("https://a.com/x", "/rel", "https://b.org/c.css"))
    val n = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "html")
    assert(n.select(TextOps.extractLinks(col("html")))
      .head().getSeq[String](0).isEmpty)
  }

  test("bpePairCounts: closed-form pair counts, single-char words skipped") {
    val docs = Seq((1L, "aba ab x"), (2L, "ab")).toDF("doc_id", "text")
    val got = TextOps.bpePairCounts(docs, k = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == Seq("ab" -> 3L, "ba" -> 1L))
  }

  test("invertedIndex: df over the full domain, capped ascending " +
    "postings, minDf prune") {
    val docs = Seq((3L, "a b"), (1L, "a b"), (2L, "a c"))
      .toDF("doc_id", "text")
    val idx = TextOps.invertedIndex(docs, minDf = 2, maxPostings = 2)
      .orderBy("term").collect()
    assert(idx.map(_.getString(0)).toSeq == Seq("a", "b"))
    val a = idx(0) // df counts ALL docs; postings capped at 2, ascending
    assert(a.getLong(1) == 3 && a.getString(2) == "1,2" && a.getInt(3) == 1)
    val b = idx(1)
    assert(b.getLong(1) == 2 && b.getString(2) == "1,3" && b.getInt(3) == 0)
  }

  test("snapshotDiff classifies added/removed/changed/unchanged; the " +
    "separator prevents column-boundary collisions") {
    val prev = Seq((1L, "a", "s"), (2L, "b", "s"), (3L, "c", "s"))
      .toDF("doc_id", "text", "source")
    val cur = Seq((2L, "b", "s"), (3L, "c2", "s"), (4L, "d", "s"))
      .toDF("doc_id", "text", "source")
    val got = Quality.snapshotDiff(prev, cur, "doc_id",
      Seq("text", "source")).orderBy("doc_id").collect()
    assert(got.map(r => r.getLong(0) -> r.getAs[String]("status")).toSeq ==
      Seq(1L -> "removed", 2L -> "unchanged", 3L -> "changed",
        4L -> "added"))
    assert(got(0).isNullAt(got(0).fieldIndex("new_fp")))
    assert(got(3).isNullAt(got(3).fieldIndex("old_fp")))
    val o2 = Seq((1L, "ab", "c")).toDF("doc_id", "text", "source")
    val n2 = Seq((1L, "a", "bc")).toDF("doc_id", "text", "source")
    assert(Quality.snapshotDiff(o2, n2, "doc_id", Seq("text", "source"))
      .head().getAs[String]("status") == "changed")
  }

  // ---- BPE encode / NB train / mojibake ---------------------------------

  test("logisticTrain: separable vocab gets opposite-sign weights, the " +
    "surrogate loss decreases with iterations, and training is " +
    "bit-deterministic run-over-run") {
    val docs = ((0 until 12).map(i =>
      (i.toLong, "good great good excellent", 1)) ++
      (12 until 24).map(i => (i.toLong, "bad awful bad terrible", 0)))
      .toDF("doc_id", "text", "label")
    val m = TextOps.logisticTrain(docs, "label", numBuckets = 64,
      iters = 3, lrShift = 8)
    val wByBucket = m.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def bucketOf(tok: String): Long =
      Seq(tok).toDF("t").select(TextOps.hashBucket(col("t"), 64))
        .head().getLong(0)
    assert(wByBucket(bucketOf("good")) > 0,
      s"good weight ${wByBucket(bucketOf("good"))}")
    assert(wByBucket(bucketOf("bad")) < 0,
      s"bad weight ${wByBucket(bucketOf("bad"))}")
    // surrogate loss (hard-sigmoid squared error) decreases 1 -> 3 iters
    def loss(model: org.apache.spark.sql.DataFrame): Double =
      TextOps.scoreLinearModel(docs, model, numBuckets = 64)
        .join(docs.select(col("doc_id"), col("label").as("y")), "doc_id")
        .select(pow(greatest(lit(0.0), least(lit(1.0),
          col("logit") * 0.25 + 0.5)) - col("y"), 2).as("se"))
        .agg(sum("se")).head().getDouble(0)
    val m1 = TextOps.logisticTrain(docs, "label", numBuckets = 64,
      iters = 1, lrShift = 8)
    assert(loss(m) < loss(m1),
      s"loss did not decrease: iter3 ${loss(m)} vs iter1 ${loss(m1)}")
    // bit determinism: exact equality, not approx — the dyadic design
    val again = TextOps.logisticTrain(docs, "label", numBuckets = 64,
      iters = 3, lrShift = 8).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(again == m.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq)
    // end-to-end: the trained model drives thresholdSweep (the deploy
    // loop) — at threshold 0 the separable corpus classifies perfectly
    val scored = TextOps.scoreLinearModel(docs, m, numBuckets = 64)
      .join(docs.select(col("doc_id"), col("label").cast("long")
        .as("ref")), "doc_id")
    val sw = TextOps.thresholdSweep(scored, Seq(0.0),
      labelCol = "ref", scoreCol = "logit").head()
    assert(sw.getAs[Long]("tp") == 12 && sw.getAs[Long]("tn") == 12 &&
      sw.getAs[Long]("fp") == 0 && sw.getAs[Long]("fn") == 0,
      s"sweep row $sw")
  }

  test("bpeEncodeWord: merges apply in rank order, left-to-right " +
    "non-overlapping, later merges build on earlier outputs") {
    val merges = Seq("t" -> "h", "th" -> "e", "a" -> "a")
    val df = Seq("there", "aaa", "x", "").toDF("w")
      .select(TextOps.bpeEncodeWord(col("w"), merges).as("e"))
    val got = df.collect().map(_.getString(0)).toSeq
    // "there": t h e r e -> th e r e -> the r e
    // "aaa": a a a -> aa a (non-overlapping, leftmost first)
    assert(got == Seq("the r e", "aa a", "x", ""))
  }

  test("bpeEncodeWordKernel: token-identical to the literal fold at " +
    "EVERY merge-list prefix — chains, runs, multi-char boundary traps, " +
    "randomized words; null/empty words encode as ''") {
    // deliberately adversarial: chained multi-char merges, an (a,a) run
    // merge, a (y,x)+(x,a) boundary trap (after "yx" forms, the bare
    // substring 'x a' appears across a symbol boundary), and merges
    // whose outputs feed later ranks
    val merges = Seq("t" -> "h", "th" -> "e", "a" -> "a", "y" -> "x",
      "x" -> "a", "aa" -> "a", "b" -> "a", "e" -> "r", "the" -> "re",
      "ba" -> "ba")
    val rnd = new scala.util.Random(12)
    val words = Seq("there", "aaa", "aaaa", "aaaaa", "x", "yxab", "xab",
      "thethere", "bababa", "baba", "yxa", "therether") ++
      (1 to 80).map(_ => (1 to (1 + rnd.nextInt(11)))
        .map(_ => "abxyte".charAt(rnd.nextInt(6))).mkString)
    for (k <- 1 to merges.length) {
      val prefix = merges.take(k)
      val bc = TextOps.bpeMergesBroadcast(spark, prefix)
      val got = words.toDF("w").select(col("w"),
        TextOps.bpeEncodeWord(col("w"), prefix).as("lit"),
        TextOps.bpeEncodeWordKernel(col("w"), bc).as("ker")).collect()
      got.foreach { r =>
        assert(r.getString(1) == r.getString(2),
          s"prefix $k, word '${r.getString(0)}': literal='${
            r.getString(1)}' kernel='${r.getString(2)}'")
      }
    }
    // null word: both paths encode as "" (the coalesce contract); the
    // document forms agree including word filtering
    val bcAll = TextOps.bpeMergesBroadcast(spark, merges)
    val nk = Seq[String](null).toDF("w")
      .select(TextOps.bpeEncodeWordKernel(col("w"), bcAll).as("k"))
      .head().getString(0)
    assert(nk == "")
    val docs = Seq("there aaa  yxab", "", null.asInstanceOf[String])
      .toDF("text")
      .select(TextOps.bpeEncode(col("text"), merges).as("lit"),
        TextOps.bpeEncodeKernel(col("text"), bcAll).as("ker")).collect()
    docs.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("bpeEncodeAuto: a 4096-merge table is usable through the kernel " +
    "path with a plan O(1) in |merges|; small tables stay literal") {
    // chain over 'a': rank i merges ("a"*(i+1), "a") — later ranks only
    // ever apply after all earlier ones did
    val big = (1 to 4096).map(i => ("a" * i) -> "a")
    val dfBig = Seq("aaaa", "aaaaa", "xyz").toDF("text")
      .select(TextOps.bpeEncodeAuto(spark, col("text"), big).as("e"))
    // plan must carry the broadcast handle, not 4096 inlined merges
    val planBig = dfBig.queryExecution.analyzed.toString
    assert(planBig.contains("bpe_encode_word"), s"not kernel:\n$planBig")
    assert(!planBig.contains("a" * 64),
      "merge literals inlined past the threshold")
    val got = dfBig.collect().map(_.getSeq[String](0)).toSeq
    // "aaaa": (a,a) pass -> [aa,aa]; no (aa,a) adjacency -> done
    // "aaaaa": (a,a) -> [aa,aa,a]; (aa,a) at (1,2) -> [aa,aaa]
    assert(got == Seq(Seq("aa aa"), Seq("aa aaa"), Seq("x y z")),
      s"got $got")
    // small table: literal fold, no kernel node in the plan
    val dfSmall = Seq("aaaa").toDF("text")
      .select(TextOps.bpeEncodeAuto(spark, col("text"),
        Seq("a" -> "a")).as("e"))
    assert(!dfSmall.queryExecution.analyzed.toString
      .contains("bpe_encode_word"))
    assert(dfSmall.head().getSeq[String](0) == Seq("aa aa"))
  }

  test("TokenizerFiles: a real-format merges.txt fixture and a " +
    "tokenizer.json parse to the same tokens as a hand-built table; " +
    "CRLF and array-form merges are accepted, malformed lines named") {
    import graft.text.TokenizerFiles
    val mergesPath =
      getClass.getResource("/graft/fixture_merges.txt").getPath
    val merges = TokenizerFiles.readMergesTxt(spark, mergesPath)
    // rank = line order; the #version header is skipped; Ġ (the
    // byte-level leading-space mark) passes through verbatim
    val hand = Seq("Ġ" -> "t", "Ġ" -> "a", "h" -> "e",
      "i" -> "n", "r" -> "e", "o" -> "n", "Ġt" -> "he", "e" -> "r",
      "Ġ" -> "s", "a" -> "t", "Ġ" -> "w", "Ġ" -> "o",
      "e" -> "n", "Ġ" -> "c", "i" -> "t", "i" -> "s", "a" -> "n",
      "o" -> "r", "e" -> "s", "Ġ" -> "b", "e" -> "d",
      "Ġ" -> "f", "in" -> "g", "Ġ" -> "p", "o" -> "u")
    assert(merges == hand, s"got $merges")
    // file-read table encodes token-identically to the hand-built one
    val bcFile = TokenizerFiles.mergesBroadcastFromFile(spark, mergesPath)
    val got = Seq("Ġthe", "Ġwinter", "inning",
      "Ġsitting", "heating", "zq").toDF("w")
      .select(TextOps.bpeEncodeWordKernel(col("w"), bcFile).as("file"),
        TextOps.bpeEncodeWord(col("w"), hand).as("lit")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"file='${r.getString(0)}' hand='${r.getString(1)}'"))
    // tokenizer.json: classic "lhs rhs" string merges + the vocab map
    val tok = getClass.getResource("/graft/fixture_tokenizer.json").getPath
    val jm = TokenizerFiles.readTokenizerJsonMerges(spark, tok)
    assert(jm == Seq("h" -> "e", "l" -> "l", "he" -> "ll",
      "hell" -> "o", "t" -> "h", "th" -> "e"))
    val enc = Seq("hello", "the").toDF("w")
      .select(TextOps.bpeEncodeWordKernel(col("w"),
        TokenizerFiles.mergesBroadcastFromFile(spark, tok)).as("e"))
      .collect().map(_.getString(0)).toSeq
    // "the": (h,e) is rank 0 and fires FIRST -> [t, he]; the later
    // (t,h)/(th,e) merges then never match — rank order, not greed
    assert(enc == Seq("hello", "t he"), s"got $enc")
    val vocab = TokenizerFiles.readTokenizerJsonVocab(spark, tok)
      .orderBy("id").collect().map(r => (r.getString(0), r.getInt(1)))
    assert(vocab.length == 11 && vocab(8) == ("hello", 8) &&
      vocab(10) == ("the", 10), s"got ${vocab.toSeq}")
    // newer tokenizers serialize merges as 2-element ARRAYS; CRLF saves
    // of merges.txt must also parse — both via temp files
    val tmp = java.nio.file.Files.createTempDirectory("graft_tok")
    val arrJson = tmp.resolve("arr.json")
    java.nio.file.Files.write(arrJson,
      """{"model": {"type": "BPE", "vocab": {"a": 0},
        | "merges": [["h", "e"], ["he", "l"]]}}""".stripMargin
        .getBytes("UTF-8"))
    assert(TokenizerFiles.readTokenizerJsonMerges(spark,
      arrJson.toString) == Seq("h" -> "e", "he" -> "l"))
    val crlf = tmp.resolve("m.txt")
    java.nio.file.Files.write(crlf,
      "#version: 0.2\r\nh e\r\nhe l\r\n".getBytes("UTF-8"))
    assert(TokenizerFiles.readMergesTxt(spark, crlf.toString) ==
      Seq("h" -> "e", "he" -> "l"))
    // a malformed line fails with its line number, not silently
    val bad = tmp.resolve("bad.txt")
    java.nio.file.Files.write(bad, "h e\nx\n".getBytes("UTF-8"))
    val ex = intercept[IllegalArgumentException](
      TokenizerFiles.readMergesTxt(spark, bad.toString))
    assert(ex.getMessage.contains(":2"))
  }

  test("langIdMulti: profile scoring routes a mixed-language fixture " +
    "correctly with exact integer scores; borderless profiles " +
    "validated; und on no-signal text; langIdEn verdicts unchanged") {
    import graft.functions.LangIdMulti
    // every profile gram is borderless (the class-load require) — the
    // property that makes replace-counting == the kernel scan
    LangIdMulti.Profiles.foreach { case (_, gs) =>
      gs.foreach { case (g, _) =>
        (1 until g.length).foreach(b =>
          assert(g.substring(0, b) != g.substring(g.length - b),
            s"gram '$g' has a border")) } }
    val fixture = Seq(
      ("The quick brown fox is walking through the woods", "en"),
      ("der alte hund und die katze sind schnell ein team", "de"),
      ("les grands arbres que nous avons plantés sont verts", "fr"),
      ("la canción de los niños está llena de emoción", "es"),
      ("a lição e a canção não estão nas condições", "pt"),
      ("la stazione della regione è vicina agli amici", "it"),
      ("het huis van mijn broer is een mooi gebouw", "nl"),
      ("что это новое время и о чем история", "ru"),
      ("هذا النص مكتوب في اللغة من أجل الاختبار", "ar"),
      ("这是一个测试的句子很好", "zh"),
      ("これはとてもたのしいですのでにほんごです", "ja"),
      ("이것은 한국어 문장입니다 테스트하는 내용의 글입니다", "ko"),
      ("zzz qqq xxx", "und"), // no profile gram fires
      ("", "und"))
    val got = fixture.map(_._1).toDF("text")
      .select(col("text"), TextOps.langIdMulti(col("text")).as("v"))
      .select(col("text"), col("v.lang"), col("v.score"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    fixture.foreach { case (text, want) =>
      assert(got(text)._1 == want,
        s"'$text': got ${got(text)}, want $want") }
    assert(got("zzz qqq xxx")._2 == 0L && got("")._2 == 0L)
    // exact integer score, hand-checked: " el"(2) + "los"(2) + ñ(2x2)
    // + "ción"(2x3) + í? no í... "está" has no í; emoción+canción
    assert(got("la canción de los niños está llena de emoción")._2 >= 10L)
    // case-insensitive: the en fixture keeps 'The' capitalized
    assert(got(fixture.head._1)._1 == "en")
    // null-safe through the TextOps coalesce
    val nullRow = Seq((1L, null.asInstanceOf[String])).toDF("id", "text")
      .select(TextOps.langIdMulti(col("text")).as("v"))
      .select(col("v.lang")).head().getString(0)
    assert(nullRow == "und")
    // langIdEn is PINNED unchanged on its English verdicts — the
    // router sits above it, it does not replace it
    val en = Seq("the cat sat on the mat with the dog and the bird",
      "zzz qqq xxx").toDF("text")
      .select(TextOps.langIdEn(col("text"))).collect().map(_.getString(0))
    assert(en.toSeq == Seq("en", "other"))
  }

  test("byte-level BPE: bytes_to_unicode is the public bijection; " +
    "gpt2 pre-tokenization preserves case, attaches leading spaces, " +
    "splits contractions/punctuation, and honors the whitespace " +
    "lookahead; a GPT-2-style fixture pair encodes to hand-derived " +
    "ids; detokenization round-trips") {
    import graft.functions.{Gpt2Bytes, VectorExpressions => VE}
    import graft.text.TokenizerFiles
    // the mapping table: a bijection over all 256 bytes, identity on
    // the printable carve-outs, the canonical marks for space/\n/\t
    assert(Gpt2Bytes.byteToChar.distinct.length == 256)
    assert(Gpt2Bytes.byteToChar('A') == 'A' &&
      Gpt2Bytes.byteToChar('~') == '~')
    assert(Gpt2Bytes.byteToChar(' ') == 'Ġ') // Ġ
    assert(Gpt2Bytes.byteToChar('\n') == 'Ċ') // Ċ
    assert(Gpt2Bytes.byteToChar('\t') == 'ĉ') // ĉ
    (0 until 256).foreach(b =>
      assert(Gpt2Bytes.charToByte(Gpt2Bytes.byteToChar(b)) == b))
    // pre-tokenization fidelity, hand-derived from the public pattern
    val cases = Seq(
      "The cat sat" -> Seq("The", " cat", " sat"), // case PRESERVED
      "don't stop" -> Seq("don", "'t", " stop"),
      "hi!! ok" -> Seq("hi", "!!", " ok"),
      "a  b" -> Seq("a", " ", " b"), // lookahead: last space -> word
      "a\n\nb" -> Seq("a", "\n", "\n", "b"),
      "x1 2y" -> Seq("x", "1", " 2", "y"), // digits split from letters
      "tail " -> Seq("tail", " "))
    val got = cases.map(_._1).toDF("text")
      .select(col("text"), TextOps.gpt2PreTokens(col("text")).as("pt"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList)
      .toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"'$in': got ${got(in)}, want $want") }
    // byte form: multi-byte UTF-8 chars map PER BYTE ('é' = C3 A9 ->
    // 'Ã' identity + '©' identity), the byte-level signature
    val bf = Seq(" café").toDF("t")
      .select(VE.gpt2Bytes(col("t"))).head().getString(0)
    assert(bf == "ĠcafÃ©", s"got '$bf'")
    // the fixture GPT-2-style merges+vocab pair: kind dispatches to
    // byte_level, the encode reproduces hand-derived ids (leading-Ġ
    // forms, case preserved), round-trip decodes to the input
    val tok =
      getClass.getResource("/graft/fixture_gpt2_tokenizer.json").getPath
    assert(TokenizerFiles.readPreTokenizerKind(spark, tok) ==
      "byte_level")
    val bcM = TokenizerFiles.mergesBroadcastFromFile(spark, tok)
    val bcV = TokenizerFiles.vocabBroadcastFromFile(spark, tok)
    val kind = TokenizerFiles.readPreTokenizerKind(spark, tok)
    val r = Seq("The cat sat on the mat.").toDF("text")
      .select(
        TextOps.bpeEncodeDispatch(kind, col("text"), bcM).as("sym"),
        TextOps.bpeEncodeIdsDispatch(kind, col("text"), bcM, bcV)
          .as("ids"),
        VE.gpt2BytesDecode(
          replace(array_join(TextOps.bpeEncodeByteLevel(col("text"),
            bcM), " "), lit(" "), lit(""))).as("rt"))
      .head()
    assert(r.getSeq[String](0) == Seq("T he", "Ġcat", "Ġsat",
      "Ġon", "Ġthe", "Ġmat", "."),
      s"symbols: ${r.getSeq[String](0)}")
    assert(r.getSeq[Int](1) == Seq(0, 13, 18, 19, 21, 17, 23, 11),
      s"ids: ${r.getSeq[Int](1)}")
    assert(r.getString(2) == "The cat sat on the mat.")
    // the whitespace path on the same text LOWERCASES and never forms
    // Ġ symbols ("The" loses its case and the (T,h)/(Th,e) merges;
    // "cat" misses Ġcat) — the two families are not interchangeable
    val ws = Seq("The cat").toDF("text")
      .select(TextOps.bpeEncodeKernel(col("text"), bcM)).head()
      .getSeq[String](0)
    assert(ws == Seq("t he", "c at"), s"got $ws")
    // Metaspace (the SentencePiece family) dispatches to its own kind
    val tmp = java.nio.file.Files.createTempDirectory("graft_ptk")
    val meta = tmp.resolve("m.json")
    java.nio.file.Files.write(meta,
      """{"pre_tokenizer": {"type": "Metaspace"},
        | "model": {"type": "BPE", "vocab": {},
        | "merges": []}}""".stripMargin.getBytes("UTF-8"))
    assert(TokenizerFiles.readPreTokenizerKind(spark, meta.toString) ==
      "metaspace")
    // ... also inside a Sequence (unless a ByteLevel member decides
    // the alphabet instead)
    val seqm = tmp.resolve("seq.json")
    java.nio.file.Files.write(seqm,
      """{"pre_tokenizer": {"type": "Sequence", "pretokenizers":
        | [{"type": "WhitespaceSplit"}, {"type": "Metaspace"}]},
        | "model": {"type": "BPE", "vocab": {},
        | "merges": []}}""".stripMargin.getBytes("UTF-8"))
    assert(TokenizerFiles.readPreTokenizerKind(spark, seqm.toString) ==
      "metaspace")
    // unknown declared pre-tokenizers fail descriptively, not silently
    val digits = tmp.resolve("d.json")
    java.nio.file.Files.write(digits,
      """{"pre_tokenizer": {"type": "Digits"},
        | "model": {"type": "BPE", "vocab": {},
        | "merges": []}}""".stripMargin.getBytes("UTF-8"))
    val ex = intercept[IllegalArgumentException](
      TokenizerFiles.readPreTokenizerKind(spark, digits.toString))
    assert(ex.getMessage.contains("Digits"))
    // no pre_tokenizer declared -> whitespace; merges.txt -> byte_level
    val none = tmp.resolve("n.json")
    java.nio.file.Files.write(none,
      """{"model": {"type": "BPE", "vocab": {}, "merges": []}}"""
        .getBytes("UTF-8"))
    assert(TokenizerFiles.readPreTokenizerKind(spark, none.toString) ==
      "whitespace")
    assert(TokenizerFiles.readPreTokenizerKind(spark,
      "/any/merges.txt") == "byte_level")
  }

  test("metaspace pre-tokenizer + BPE encode: ▁-replacement with the " +
    "three prepend schemes, hand-derived Llama-style symbols and ids " +
    "from the fixture tokenizer.json, loadTokenizer dispatch, legacy " +
    "add_prefix_space mapping") {
    import graft.text.{TextOps, TokenizerFiles}
    // pre-tokenization fidelity, hand-derived from the public
    // Metaspace semantics (split BEFORE each ▁ — MergedWithNext)
    val alw = Seq("Hello world", "pre  dup", " lead", "", "▁own")
      .toDF("text")
      .select(col("text"),
        TextOps.metaspacePreTokens(col("text")).as("pt"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList)
      .toMap
    assert(alw("Hello world") == List("▁Hello", "▁world"))
    assert(alw("pre  dup") == List("▁pre", "▁", "▁dup")) // double space
    assert(alw(" lead") == List("▁lead")) // leading space becomes the
    // ▁ itself — already ▁-led after replacement, so no prepend
    assert(alw("") == Nil)
    assert(alw("▁own") == List("▁own")) // already ▁-led: no prepend
    val nev = Seq("Hello world").toDF("text")
      .select(TextOps.metaspacePreTokens(col("text"),
        prepend = "never")).head().getSeq[String](0).toList
    assert(nev == List("Hello", "▁world")) // first word stays bare
    val fst = Seq("Hello world").toDF("text")
      .select(TextOps.metaspacePreTokens(col("text"),
        prepend = "first")).head().getSeq[String](0).toList
    assert(fst == List("▁Hello", "▁world")) // one section: == always
    // a custom replacement char (tokenizers allow any single char)
    val cus = Seq("a b").toDF("text")
      .select(TextOps.metaspacePreTokens(col("text"),
        replacement = "_")).head().getSeq[String](0).toList
    assert(cus == List("_a", "_b"))
    // the fixture Llama-style Metaspace+BPE tokenizer.json: kind and
    // config dispatch, the encode reproduces hand-derived ▁-form
    // symbols (case preserved — 'T' stays unmerged) and ids ('T' is
    // absent from the vocab → -1, the OOV flag)
    val tok = getClass
      .getResource("/graft/fixture_metaspace_tokenizer.json").getPath
    assert(TokenizerFiles.readPreTokenizerKind(spark, tok) ==
      "metaspace")
    assert(TokenizerFiles.readMetaspaceConfig(spark, tok) ==
      ("▁", "always"))
    val bcM = TokenizerFiles.mergesBroadcastFromFile(spark, tok)
    val bcV = TokenizerFiles.vocabBroadcastFromFile(spark, tok)
    val r = Seq("The cat sat on the mat.").toDF("text")
      .select(
        TextOps.bpeEncodeDispatch("metaspace", col("text"), bcM)
          .as("sym"),
        TextOps.bpeEncodeIdsDispatch("metaspace", col("text"), bcM,
          bcV).as("ids"),
        TextOps.bpeTokenCountMetaspace(col("text"), bcM).as("n"))
      .head()
    assert(r.getSeq[String](0) == Seq("▁ T h e", "▁cat", "▁sat",
      "▁on", "▁the", "▁mat ."), s"symbols: ${r.getSeq[String](0)}")
    assert(r.getSeq[Int](1) == Seq(1, -1, 5, 4, 17, 19, 21, 14,
      23, 11), s"ids: ${r.getSeq[Int](1)}")
    assert(r.getLong(2) == 10L)
    // loadTokenizer routes the fixture to the metaspace encoder
    val lt = TokenizerFiles.loadTokenizer(spark, tok)
      .asInstanceOf[TokenizerFiles.ColumnTokenizer]
    assert(lt.family == "bpe_metaspace")
    val enc = Seq("the cat").toDF("text")
      .select(lt.encode(col("text"))).head().getSeq[String](0)
    assert(enc == Seq("▁the", "▁cat"), s"got $enc")
    // legacy add_prefix_space serialization maps to the scheme; a
    // declared custom replacement passes through
    val tmp = java.nio.file.Files.createTempDirectory("graft_msc")
    val legacy = tmp.resolve("legacy.json")
    java.nio.file.Files.write(legacy,
      """{"pre_tokenizer": {"type": "Metaspace", "replacement": "_",
        | "add_prefix_space": false},
        | "model": {"type": "BPE", "vocab": {"a": 0},
        | "merges": []}}""".stripMargin.getBytes("UTF-8"))
    assert(TokenizerFiles.readMetaspaceConfig(spark, legacy.toString)
      == ("_", "never"))
    // a T5-style Unigram+Metaspace file: the segmenter's word domain
    // arrives in ▁-form via the carried preTokens
    val t5 = tmp.resolve("t5.json")
    java.nio.file.Files.write(t5,
      """{"pre_tokenizer": {"type": "Metaspace"},
        | "model": {"type": "Unigram", "vocab":
        | [["▁the", -1.5], ["▁cat", -2.0]]}}"""
        .stripMargin.getBytes("UTF-8"))
    val ut = TokenizerFiles.loadTokenizer(spark, t5.toString)
      .asInstanceOf[TokenizerFiles.UnigramTokenizer]
    assert(ut.vocab.orderBy("piece").collect()
      .map(x => (x.getString(0), x.getDouble(1))).toSeq ==
      Seq(("▁cat", -2.0), ("▁the", -1.5)))
    val dom = Seq("the cat").toDF("text")
      .select(ut.preTokens(col("text"))).head().getSeq[String](0)
    assert(dom == Seq("▁the", "▁cat"), s"got $dom")
    // bad scheme / replacement fail descriptively
    val bad = intercept[IllegalArgumentException](
      Seq("x").toDF("text").select(TextOps.metaspacePreTokens(
        col("text"), prepend = "sometimes")))
    assert(bad.getMessage.contains("prepend_scheme"))
    val noms = tmp.resolve("noms.json")
    java.nio.file.Files.write(noms,
      """{"pre_tokenizer": {"type": "ByteLevel"},
        | "model": {"type": "BPE", "vocab": {"a": 0},
        | "merges": []}}""".stripMargin.getBytes("UTF-8"))
    val nometa = intercept[IllegalArgumentException](
      TokenizerFiles.readMetaspaceConfig(spark, noms.toString))
    assert(nometa.getMessage.contains("no Metaspace"))
  }

  test("byte-level BPE trainer + detokenizer: merges learned in the " +
    "Ġ alphabet match hand-computed pair counts; writeMergesTxt " +
    "round-trips readMergesTxt; ids decode back to the exact text; " +
    "unknown ids fail descriptively") {
    import graft.text.TokenizerFiles
    import graft.functions.{VectorExpressions => VE}
    // hand-computed trainer run: pre-token byte forms are
    // the:2, Ġcat:2, Ġthe:1, Ġdog:1 → round 1 ties (t,h)/(h,e) at 3,
    // lhs order picks (h,e); round 2 (t,he)=3; round 3 ties
    // (Ġ,c)/(c,a)/(a,t) at 2, lhs order picks (a,t) ('a' < 'c' < 'Ġ')
    val docs = Seq("the cat the cat", "the dog").toDF("text")
    val learned = TextOps.bpeTrainByteLevel(docs, numMerges = 3)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(learned == Seq((1, "h", "e", 3L), (2, "t", "he", 3L),
      (3, "a", "t", 2L)), s"got $learned")
    // the learned table ships as merges.txt and round-trips the reader
    val tmp = java.nio.file.Files.createTempDirectory("graft_wm")
      .resolve("merges.txt").toString
    val pairs = learned.map(m => (m._2, m._3))
    TokenizerFiles.writeMergesTxt(spark, pairs, tmp)
    assert(TokenizerFiles.readMergesTxt(spark, tmp) == pairs)
    // and the shipped file encodes: "Ġthe" folds to one symbol path
    val bc = TokenizerFiles.mergesBroadcastFromFile(spark, tmp)
    val enc = Seq("the cat").toDF("text")
      .select(TextOps.bpeEncodeByteLevel(col("text"), bc))
      .head().getSeq[String](0)
    assert(enc == Seq("the", "Ġ c at"), s"got $enc")
    // space-bearing symbols are not representable in the line format
    intercept[IllegalArgumentException](
      TokenizerFiles.writeMergesTxt(spark, Seq(("a b", "c")), tmp))
    // detokenizer: the fixture pair's ids decode to the exact input
    val tok =
      getClass.getResource("/graft/fixture_gpt2_tokenizer.json").getPath
    val bcM = TokenizerFiles.mergesBroadcastFromFile(spark, tok)
    val vocab = TokenizerFiles.readTokenizerJsonVocab(spark, tok)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    val bcV = TextOps.bpeVocabBroadcast(spark, vocab)
    val bcInv = TextOps.bpeVocabInverseBroadcast(spark, vocab)
    val text = "The cat sat on the mat."
    val rt = Seq(text).toDF("text")
      .select(TextOps.bpeDecodeIdsByteLevel(
        TextOps.bpeEncodeIdsByteLevel(col("text"), bcM, bcV), bcInv))
      .head().getString(0)
    assert(rt == text, s"round trip broke: '$rt'")
    // an id outside the vocab fails with the id named, never silently
    val ex = intercept[Exception] {
      Seq(Seq(0, 9999)).toDF("ids")
        .select(VE.vocabSymbols(col("ids"), bcInv)).collect()
    }
    val chain = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).take(10)
      .map(t2 => Option(t2.getMessage).getOrElse("")).toSeq
    assert(chain.exists(_.contains("9999")), s"cause chain: $chain")
    // duplicate ids make the inverse ambiguous — rejected at build
    intercept[IllegalArgumentException](
      TextOps.bpeVocabInverseBroadcast(spark, Seq(("a", 1), ("b", 1))))
    // METASPACE detokenizer: exact round trip incl. case, a double
    // space (▁▁ decodes back to two spaces), and the planted leading
    // ▁ stripped; prepend=never strips nothing
    val mVocab = ((('a' to 'z') ++ ('A' to 'Z')).map(_.toString) :+
      "▁").zipWithIndex
    val mMerges = Seq(("▁", "c"), ("a", "t"))
    val bcMm = TextOps.bpeMergesBroadcast(spark, mMerges)
    val bcMv = TextOps.bpeVocabBroadcast(spark, mVocab.map {
      case (s2, i) => (s2, i) } ++ mMerges.zipWithIndex.map {
      case ((a, b), i) => (a + b, mVocab.size + i) })
    val bcMi = TextOps.bpeVocabInverseBroadcast(spark, mVocab.map {
      case (s2, i) => (s2, i) } ++ mMerges.zipWithIndex.map {
      case ((a, b), i) => (a + b, mVocab.size + i) })
    val mText = "The cat  Sat"
    val mrt = Seq(mText).toDF("text")
      .select(TextOps.bpeDecodeIdsMetaspace(
        TextOps.bpeEncodeIdsMetaspace(col("text"), bcMm, bcMv), bcMi))
      .head().getString(0)
    assert(mrt == mText, s"metaspace round trip broke: '$mrt'")
    // prepend=never: no leading ▁ planted, none stripped
    val mrtN = Seq("cat sat").toDF("text")
      .select(TextOps.bpeDecodeIdsMetaspace(
        TextOps.bpeEncodeIdsMetaspace(col("text"), bcMm, bcMv,
          prepend = "never"),
        bcMi, prepend = "never"))
      .head().getString(0)
    assert(mrtN == "cat sat", s"got '$mrtN'")
    // BYTE FALLBACK ids: a known symbol keeps its id, an OOV symbol
    // expands to its UTF-8 bytes' <0xXX> piece ids (é = C3 A9 — TWO
    // ids), and a byte piece the vocab lacks still maps to -1
    val bcBf = TextOps.bpeVocabBroadcast(spark,
      Seq(("at", 10), ("<0x71>", 11), ("<0xC3>", 12), ("<0xA9>", 13)))
    val bf = Seq("at q é z").toDF("t")
      .select(VE.vocabIdsByteFallback(col("t"), bcBf))
      .head().getSeq[Int](0)
    // at→10; q→0x71→11; é→C3 A9→12,13; z→<0x7A> absent→-1
    assert(bf == Seq(10, 11, 12, 13, -1), s"got $bf")
    // byte_fallback through a SHIPPED file: writeTokenizerJsonBpe
    // declares it, loadTokenizer composes the rewrite — the piece
    // stream respells OOV symbols; the same file WITHOUT the flag
    // leaves them bare
    val bfDir = java.nio.file.Files.createTempDirectory("graft_bf")
    val bfVocab = Seq("a" -> 0, "t" -> 1, "at" -> 2, "▁" -> 3,
      "<0x71>" -> 4, "<0x75>" -> 5, "<0x65>" -> 6)
    TokenizerFiles.writeTokenizerJsonBpe(spark,
      bfDir.resolve("bf.json").toString, Seq(("a", "t")), bfVocab,
      preTokenizer = "metaspace", byteFallback = true)
    val bfLt = TokenizerFiles.loadTokenizer(spark,
        bfDir.resolve("bf.json").toString)
      .asInstanceOf[TokenizerFiles.ColumnTokenizer]
    val bfEnc = Seq("at que").toDF("t")
      .select(bfLt.encode(col("t")).as("e")).head().getSeq[String](0)
    assert(bfEnc == Seq("▁ at", "▁ <0x71> <0x75> <0x65>"),
      s"got $bfEnc")
    TokenizerFiles.writeTokenizerJsonBpe(spark,
      bfDir.resolve("plain.json").toString, Seq(("a", "t")), bfVocab,
      preTokenizer = "metaspace")
    val plainEnc = Seq("at que").toDF("t")
      .select(TokenizerFiles.loadTokenizer(spark,
          bfDir.resolve("plain.json").toString)
        .asInstanceOf[TokenizerFiles.ColumnTokenizer]
        .encode(col("t")).as("e")).head().getSeq[String](0)
    assert(plainEnc == Seq("▁ at", "▁ q u e"), s"got $plainEnc")
  }

  test("dsirWeights/dsirSelect: weights reproduce the snapped-integer " +
    "log-ratio formula computed independently; tokenless docs absent; " +
    "selection returns the top-k rows joined back") {
    val target = Seq((100L, "alpha beta alpha gamma alpha"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha alpha beta"), (2L, "zulu yankee xray"),
      (3L, "alpha zulu"),
      (4L, ""), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val w = TextOps.dsirWeights(raw, target, numBuckets = 16)
      .orderBy("doc_id").collect()
    assert(w.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val byId = w.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // the formula, reproduced outside Spark (same md5 buckets, same
    // 2^-20 long snapping, same add-one models)
    def bucket(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 8), 16) % 16
    }
    def L(x: Double): Long =
      math.floor(math.log(x) * 1048576.0 + 0.5).toLong
    val tgtToks = Seq("alpha", "beta", "alpha", "gamma", "alpha")
    val docs = Map(
      1L -> Seq("alpha", "alpha", "beta"),
      2L -> Seq("zulu", "yankee", "xray"),
      3L -> Seq("alpha", "zulu"))
    val rawToks = docs.values.flatten.toSeq
    val nt = tgtToks.groupBy(bucket).map { case (b, v) =>
      b -> v.size.toLong }
    val nr = rawToks.groupBy(bucket).map { case (b, v) =>
      b -> v.size.toLong }
    val c0 = L(tgtToks.size.toDouble + 16) - L(rawToks.size.toDouble + 16)
    def weightOf(ts: Seq[String]): Double = {
      val sd = ts.groupBy(bucket).map { case (b, v) =>
        v.size.toLong *
          (L(nt.getOrElse(b, 0L).toDouble + 1) -
            L(nr.getOrElse(b, 0L).toDouble + 1)) }.sum
      (sd - ts.size.toLong * c0).toDouble / 1048576.0
    }
    docs.foreach { case (id, ts) =>
      assert(byId(id) == weightOf(ts),
        s"doc $id: got ${byId(id)}, formula ${weightOf(ts)}")
    }
    // selection = the top-2 of the independently computed ranking
    val expectTop2 = docs.toSeq
      .sortBy { case (id, ts) => (-weightOf(ts), id) }
      .take(2).map(_._1).sorted
    val sel = TextOps.dsirSelect(raw, target, k = 2, numBuckets = 16)
    assert(sel.columns.contains("text")) // raw rows joined back
    assert(sel.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      == expectTop2)
  }

  test("calibrationReport + expectedCalibrationError: hand-computed " +
    "bins, the conf=1.0 last-bin clamp, NULL exclusion, and the " +
    "fixed-order weighted fold") {
    import graft.ops.Chat
    val res = Seq(
      (Some(0.0625), Some(1)), (Some(0.0625), Some(0)), // bin 0
      (Some(0.5), Some(1)), (Some(0.5625), Some(1)),    // bin 5
      (Some(1.0), Some(1)),                             // clamps to 9
      (None, Some(1)), (Some(0.3), None))               // excluded
      .toDF("confidence", "correct")
    val rep = Chat.calibrationReport(res, bins = 10)
      .orderBy("bin").collect()
    assert(rep.length == 3, s"got ${rep.toSeq}")
    assert(rep(0).getInt(0) == 0 && rep(0).getLong(1) == 2 &&
      rep(0).getDouble(3) == 0.5 && rep(0).getDouble(4) == 0.0625 &&
      rep(0).getDouble(5) == 0.4375)
    assert(rep(1).getInt(0) == 5 && rep(1).getDouble(3) == 1.0 &&
      rep(1).getDouble(4) == 0.53125 && rep(1).getDouble(5) == 0.46875)
    assert(rep(2).getInt(0) == 9 && rep(2).getLong(1) == 1 &&
      rep(2).getDouble(5) == 0.0)
    val ece = Chat.expectedCalibrationError(
      Chat.calibrationReport(res, bins = 10)).head()
    // (2*0.4375 + 2*0.46875 + 0) / 5 — exact dyadic arithmetic
    assert(ece.getLong(0) == 3 && ece.getLong(1) == 5 &&
      ece.getDouble(2) == 0.3625, s"got $ece")
  }

  test("bpeEncodeIdsKernel + bpeTokenCount: a tokenizer.json's merges " +
    "AND vocab drive encode-to-ids end-to-end; OOV symbols map to -1 " +
    "but still count; null/empty docs give empty ids and 0 tokens") {
    import graft.text.TokenizerFiles
    val tok =
      getClass.getResource("/graft/fixture_tokenizer.json").getPath
    val bcM = TokenizerFiles.mergesBroadcastFromFile(spark, tok)
    val bcV = TokenizerFiles.vocabBroadcastFromFile(spark, tok)
    val got = Seq("hello the", "hello hello", "zq", "",
      null.asInstanceOf[String]).toDF("text")
      .select(
        TextOps.bpeEncodeIdsKernel(col("text"), bcM, bcV).as("ids"),
        TextOps.bpeTokenCount(col("text"), bcM).as("n"))
      .collect()
    // "hello" -> [hello]=8; "the" -> "t he" (rank order) -> [4, 5]
    assert(got(0).getSeq[Int](0) == Seq(8, 4, 5) &&
      got(0).getLong(1) == 3L, s"got ${got(0)}")
    assert(got(1).getSeq[Int](0) == Seq(8, 8) && got(1).getLong(1) == 2L)
    // z/q are outside the fixture vocab: -1 ids, still 2 tokens
    assert(got(2).getSeq[Int](0) == Seq(-1, -1) &&
      got(2).getLong(1) == 2L, s"got ${got(2)}")
    assert(got(3).getSeq[Int](0) == Seq.empty && got(3).getLong(1) == 0L)
    assert(got(4).getSeq[Int](0) == Seq.empty && got(4).getLong(1) == 0L)
  }

  test("DominantScript kernel: identical to the strip-and-measure " +
    "regex form on ties, mixed scripts, empties, every class, and " +
    "non-BMP text; null-safe") {
    val rows = Seq(
      "plain english text",
      "русский текст здесь",
      "深度学习模型训练",
      "ひらがなとカタカナ",
      "한국어 문장 하나",
      "نص عربي قصير",
      "1234567890",
      "", "   ", "!@#$%^&*()",
      "ab12", // latin-digit TIE -> latin (ScriptRanges order)
      "аб12", // cyrillic-digit tie -> cyrillic
      "学习12", // cjk-digit tie -> cjk
      "GPU加速 русский 123 نص", // 4-way mix
      "À propos ɏ Ѐӿ぀ヿ一鿿가힯؀ۿ", // class BOUNDARY chars
      "😀😀 ok", // emoji (non-BMP, classless)
      "😀") // ONLY non-BMP -> none
      .toDF("t")
    val got = rows.select(col("t"),
      TextOps.dominantScriptExpr(col("t")).as("ker"),
      TextOps.dominantScriptRegexExpr(coalesce(col("t"), lit("")))
        .as("re")).collect()
    got.foreach(r => assert(r.getString(1) == r.getString(2),
      s"'${r.getString(0)}': kernel=${r.getString(1)} regex=${
        r.getString(2)}"))
    // null text routes like empty (the coalesce contract)
    val n = Seq[String](null).toDF("t")
      .select(TextOps.dominantScriptExpr(col("t"))).head().getString(0)
    assert(n == "none")
  }

  test("script-dispatched sentence/repetition/boilerplate: non-CJK " +
    "docs measure EXACTLY like the legacy ops; CJK docs get real " +
    "sentence counts, char-gram repetition, and visible boilerplate") {
    import graft.dedup.Dedup
    val en = Seq(
      (1L, "One sentence here. Another one! A third? Trailing bits"),
      (2L, "the cat sat. the cat sat. the cat sat."),
      (3L, "no terminal punctuation at all in this line"),
      (4L, ""),
      (5L, "shared footer words appear here. shared footer words too."))
      .toDF("doc_id", "text")
    // 1) non-CJK equality pins, row for row
    val legacySent = TextOps.sentenceStats(en).orderBy("doc_id").collect()
    val scriptSent =
      TextOps.sentenceStatsScripted(en).orderBy("doc_id").collect()
    assert(legacySent.toSeq == scriptSent.toSeq)
    val reps = en.select(col("doc_id"),
      TextOps.duplicateNgramFraction(col("text"), 2).as("lg"),
      TextOps.duplicateNgramFractionScripted(col("text"), 2).as("sc"))
      .collect()
    reps.foreach(r => assert(r.getDouble(1) == r.getDouble(2),
      s"doc ${r.getLong(0)}"))
    val legacyBp = Dedup.duplicatedShingleFraction(en)
      .orderBy("doc_id").collect()
    val scriptBp = Dedup.duplicatedShingleFractionScripted(en)
      .orderBy("doc_id").collect()
    assert(legacyBp.toSeq == scriptBp.toSeq)
    // 2) CJK sentences: full-width terminators split; legacy saw ONE
    val cjkDoc = Seq((9L, "你好世界。今天天气很好！我们去公园吗？"))
      .toDF("doc_id", "text")
    val lg = TextOps.sentenceStats(cjkDoc).head()
    val sc = TextOps.sentenceStatsScripted(cjkDoc).head()
    assert(lg.getInt(1) == 1) // the blind spot, demonstrated
    assert(sc.getInt(1) == 3 &&
      sc.getDouble(2) == (4 + 6 + 6).toDouble / 3, s"got $sc")
    // 3) CJK repetition: a fully-repeated page reads ~1, not 0.0
    val repDoc = Seq((9L, "数据质量" * 5)).toDF("doc_id", "text")
    val repPair = repDoc.select(
      TextOps.duplicateNgramFraction(col("text"), 3).as("lg"),
      TextOps.duplicateNgramFractionScripted(col("text"), 3).as("sc"))
      .head()
    assert(repPair.getDouble(0) == 0.0) // word form is blind
    // 20 chars -> 18 positions; the 4-char period yields 4 distinct
    assert(repPair.getDouble(1) == 1.0 - 4.0 / 18, s"got $repPair")
    // 4) CJK boilerplate: two pages share a footer — word shingles see
    // two distinct giant tokens (0.0), char grams see the footer
    val bp = Seq(
      (11L, "本页讲述春天的故事。版权所有转载请注明出处"),
      (12L, "另一页关于大海航行。版权所有转载请注明出处"),
      (13L, "第三页完全不同且没有模板尾部的内容呀"))
      .toDF("doc_id", "text")
    val bpLegacy = Dedup.duplicatedShingleFraction(bp)
      .orderBy("doc_id").collect()
    assert(bpLegacy.forall(_.getDouble(3) == 0.0))
    val bpScript = Dedup.duplicatedShingleFractionScripted(bp)
      .orderBy("doc_id").collect()
    assert(bpScript(0).getDouble(3) > 0.3 &&
      bpScript(1).getDouble(3) > 0.3,
      s"footer invisible: ${bpScript.toSeq}")
    assert(bpScript(2).getDouble(3) == 0.0, s"got ${bpScript.toSeq}")
  }

  test("mergeAdjacentPair: boundary-aware — merging (x,a) must NOT " +
    "rewrite across the symbol boundary in 'yx ab'; adjacency runs " +
    "merge greedily left-to-right; disjoint matches all merge") {
    val rows = Seq(
      "yx ab", // bare substring replace would yield "yxab" — wrong
      "x a b x a", // (x,a) twice, disjoint — both merge
      "a a a a a", // used with (a,a): pairs (1,2),(3,4), odd tail stays
      "x a") // trailing exact pair
      .toDF("s")
    val xa = rows.select(
      TextOps.mergeAdjacentPair(col("s"), "x", "a").as("m"))
      .collect().map(_.getString(0)).toSeq
    assert(xa == Seq("yx ab", "xa b xa", "a a a a a", "xa"), s"got $xa")
    val aa = Seq("a a a a a", "b a a a b")
      .toDF("s")
      .select(TextOps.mergeAdjacentPair(col("s"), "a", "a").as("m"))
      .collect().map(_.getString(0)).toSeq
    assert(aa == Seq("aa aa a", "b aa a b"), s"got $aa")
    // multi-char symbols merge only as WHOLE adjacent symbols
    val mc = Seq("the m x them", "them x")
      .toDF("s")
      .select(TextOps.mergeAdjacentPair(col("s"), "the", "m").as("m"))
      .collect().map(_.getString(0)).toSeq
    assert(mc == Seq("them x them", "them x"), s"got $mc")
  }

  test("packSequencesGreedy: STRING doc ids survive the typed walk " +
    "and come back as strings; numeric ids keep their source dtype") {
    val docs = Seq(("doc-a", "one two three"), ("doc-b", "four five"),
      ("doc-c", "six")).toDF("doc_id", "text")
    val got = TextOps.packSequencesGreedy(docs, maxTokens = 4,
      nShards = 1).collect()
      .map(r => (r.getAs[String]("doc_id"), r.getLong(4))).sortBy(_._1)
    assert(got.toSeq ==
      Seq(("doc-a", 3L), ("doc-b", 2L), ("doc-c", 1L)), s"got $got")
    val num = Seq((7, "a b"), (8, "c")).toDF("doc_id", "text")
    val schema = TextOps.packSequencesGreedy(num, maxTokens = 10,
      nShards = 1).schema("doc_id").dataType
    assert(schema == org.apache.spark.sql.types.IntegerType)
  }

  test("conversationStats: a NULL turn content counts as 0 chars, " +
    "not NULL-ing the whole per-role sum") {
    import graft.ops.Chat
    val docs = Seq((1L, Seq(("user", "Hi"), ("assistant", null),
      ("assistant", "ok"))))
      .toDF("doc_id", "raw")
      .select(col("doc_id"), expr(
        "transform(raw, x -> struct(x._1 AS role, x._2 AS content))")
        .as("turns"))
    val r = Chat.conversationStats(docs).head()
    assert(r.getLong(6) == 2L, s"chars_user ${r.getLong(6)}")
    assert(r.getLong(7) == 2L, s"chars_assistant ${r.getLong(7)}")
  }

  test("bpeEncode: per-word encoding over the lowercased text, " +
    "empty tokens dropped, null-safe") {
    val merges = Seq("a" -> "b")
    val df = Seq(Some("Ab  ab"), None).toDF("text")
      .select(TextOps.bpeEncode(col("text"), merges).as("e"))
    val rows = df.collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(rows == Seq(Seq("ab", "ab"), Seq()))
  }

  test("winnowingOverlap: shared passages pair, unrelated docs do not, " +
    "hot fingerprints above maxDf never join") {
    val rnd = new scala.util.Random(21)
    def rndText(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shared = rndText(120)
    val header = rndText(60) // boilerplate carried by EVERY doc
    val docs = Seq(
      (1L, header + rndText(80) + shared),
      (2L, header + shared + rndText(90)),
      (3L, header + rndText(100))).toDF("doc_id", "text")
    // uncapped: the 60-char header alone pairs EVERY doc (winnowing's
    // guarantee working against us — the boilerplate problem)
    val got = Dedup.winnowingOverlap(docs, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == Seq((1L, 2L), (1L, 3L), (2L, 3L)), s"got $got")
    // df cap 2 drops the everywhere-header fps; only the truly shared
    // passage still pairs — and doc 3 pairs with nobody
    val capped = Dedup.winnowingOverlap(docs, minShared = 3, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(capped == Seq((1L, 2L)), s"capped $capped")
  }

  test("luhnValid + creditCardScan: checksum parity with a reference " +
    "implementation, separators stripped, invalid runs rejected") {
    def refLuhn(s: String): Boolean = s.nonEmpty && {
      val sum = s.reverse.zipWithIndex.map { case (c, i) =>
        val d = c - '0'
        if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum
      sum % 10 == 0
    }
    val rnd = new scala.util.Random(5)
    val cases = (0 until 24).map(_ =>
      (10 to 19)(rnd.nextInt(10)) match {
        case n => (0 until n).map(_ => rnd.nextInt(10)).mkString
      })
    val got = cases.toDF("d")
      .select(col("d"), TextOps.luhnValid(col("d")).as("v")).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    cases.foreach { c =>
      assert(got(c) == refLuhn(c), s"luhn mismatch on $c")
    }
    // the classic 11-digit textbook number is Luhn-valid but too SHORT
    // to be a card — luhnValid accepts it, the 13-19-digit scan ignores
    val classic = Seq("49927398716", "49927398717").toDF("d")
      .select(TextOps.luhnValid(col("d"))).collect().map(_.getBoolean(0))
    assert(classic.toSeq == Seq(true, false))
    val text = "pay 4992-7398-716 or 4532015112830367 or maybe " +
      "4532 0151 1283 0366 ok"
    val found = Seq(text).toDF("t")
      .select(TextOps.creditCardScan(col("t")).as("f"))
      .head().getSeq[String](0).toSeq
    // only the checksum-valid 16-digit run survives (the ...367 variant
    // fails Luhn; the 11-digit run fails the length floor), separators
    // stripped
    assert(found == Seq("4532015112830366"), s"got $found")
  }

  test("calibrationBins: equal-width bins with top clamp, exact-quotient " +
    "accuracy, null rows in the -1 audit bin, ECE derivable") {
    val scored = Seq(
      (1L, Some(0.25), Some(1L)), (2L, Some(0.25), Some(0L)),
      (3L, Some(1.0), Some(1L)), // p = 1.0 → clamped into bin 9
      (4L, None, Some(1L)), (5L, Some(0.5), None))
      .toDF("doc_id", "prob", "label")
    val got = TextOps.calibrationBins(scored).orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4))).toSeq
    assert(got == Seq(
      (-1L, 2L, 0.5, 0.5, -1.0), // null audit bin (conf over the one p)
      (2L, 2L, 0.25, 0.5, 0.25),
      (9L, 1L, 1.0, 1.0, 0.0)), s"got $got")
    // ECE over the real bins: (2/3)·0.25 + (1/3)·0 = 1/6
    val real = got.filter(_._1 >= 0)
    val n = real.map(_._2).sum.toDouble
    val ece = real.map(t => t._2 / n * t._5).sum
    assert(math.abs(ece - 1.0 / 6) < 1e-12)
  }

  test("Chat: structure stats catch non-alternating and assistant-first " +
    "conversations; dedup collapses whitespace/case variants keep-first") {
    import graft.ops.Chat
    def turns(ts: (String, String)*) = ts.map { case (r, c) => (r, c) }
    val docs = Seq(
      (1L, turns("user" -> "Hi there", "assistant" -> "Hello!",
        "user" -> "Bye")),
      (2L, turns("user" -> "One", "user" -> "Two")), // role repeat
      (3L, turns("assistant" -> "I speak first")), // wrong opener
      (4L, Seq.empty[(String, String)]))
      .toDF("doc_id", "raw")
      .select(col("doc_id"), expr(
        "transform(raw, x -> struct(x._1 AS role, x._2 AS content))")
        .as("turns"))
    val st = Chat.conversationStats(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5), r.getLong(6), r.getLong(7))).toSeq
    assert(st == Seq(
      (1L, 3L, 2L, 1L, 1, 1, 11L, 6L),
      (2L, 2L, 2L, 0L, 0, 1, 6L, 0L),
      (3L, 1L, 0L, 1L, 0, 0, 0L, 13L),
      (4L, 0L, 0L, 0L, 0, 0, 0L, 0L)), s"got $st")
    // dedup: docs 10/11 differ only by case+spacing → one digest,
    // min id keeps; doc 12 is distinct
    val convo = Seq(
      (10L, turns("user" -> "Hello World", "assistant" -> "Hi")),
      (11L, turns("user" -> "hello   world", "assistant" -> "HI")),
      (12L, turns("user" -> "something else")))
      .toDF("doc_id", "raw")
      .select(col("doc_id"), expr(
        "transform(raw, x -> struct(x._1 AS role, x._2 AS content))")
        .as("turns"))
    val dd = Chat.dedupConversations(convo).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("digest"),
        r.getAs[Int]("keep")))
    assert(dd(0)._2 == dd(1)._2 && dd(0)._3 == 1 && dd(1)._3 == 0)
    assert(dd(2)._2 != dd(0)._2 && dd(2)._3 == 1)
    // the rendered template is the flat role-tagged concatenation
    val r0 = Chat.dedupConversations(convo).filter(col("doc_id") === 10)
      .select("rendered").head().getString(0)
    assert(r0 == "<|user|>Hello World<|assistant|>Hi")
  }

  test("dsirScores: target-like raw docs outscore off-domain ones, " +
    "token-less docs score zero, every raw doc gets a row") {
    val target = Seq(
      (100L, "gradient descent optimizes the neural network loss"),
      (101L, "the transformer attention layers train the model weights"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "the neural network model weights train with gradient loss"),
      (2L, "seven geese waddled across a frozen pond at dawn quacking"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextOps.dsirScores(raw, target, numBuckets = 64)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 3)
    val byId = got.map(t => t._1 -> t).toMap
    assert(byId(1L)._3 > byId(2L)._3,
      s"in-domain doc did not outscore: $got")
    assert(byId(3L) == ((3L, 0L, 0.0)))
  }

  test("packSequencesGreedy groupCol: sources pack contiguously " +
    "within each shard (a finished group never reappears), the same " +
    "capacity rule holds, and groupCol = None is bit-identical to the " +
    "ungrouped walk") {
    val docs = (0L until 60L).map(i =>
      (i, s"src${i % 5}", Seq.fill(5 + (i * 7 % 25).toInt)("w")
        .mkString(" ")))
      .toDF("doc_id", "source", "text")
    val grouped = TextOps.packSequencesGreedy(docs, maxTokens = 40,
      nShards = 2, groupCol = Some("source"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .orderBy("shard", "pack_id", "pack_pos")
      .collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("pack_id"),
        r.getAs[Int]("pack_pos"), r.getAs[Long]("n_tokens"),
        r.getAs[String]("source")))
    assert(grouped.length == 60)
    // capacity rule unchanged
    grouped.groupBy(t => (t._1, t._2)).foreach { case ((sh, p), rows) =>
      val total = rows.map(_._4).sum
      assert(total <= 40 || rows.length == 1,
        s"pack ($sh,$p) holds $total tokens")
    }
    // contiguity: within a shard's walk order, a source's docs form
    // ONE run — once it ends it never reappears
    grouped.groupBy(_._1).foreach { case (sh, rows) =>
      val walk = rows.sortBy(t => (t._2, t._3)).map(_._5)
      val runs = walk.foldLeft(List.empty[String]) { (acc, s) =>
        if (acc.headOption.contains(s)) acc else s :: acc }
      assert(runs.length == runs.distinct.length,
        s"shard $sh interleaves sources: $walk")
    }
    // None keeps the prior walk exactly
    val a = TextOps.packSequencesGreedy(docs, maxTokens = 40,
      nShards = 2).collect().map(_.toSeq).sortBy(_.toString)
    val b = TextOps.packSequencesGreedy(docs, maxTokens = 40,
      nShards = 2, groupCol = None).collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(a.toSeq == b.toSeq)
  }

  test("quantizeBinary + hammingTopK: hand-checked bit packing (32 " +
    "bits per word, no sign-bit hazard), packed-XOR popcount equals " +
    "the naive sign-disagreement count, self-distance 0, ascending " +
    "rank with id tie-break") {
    import graft.ml.Similarity
    // dim 4 -> one word; v0 = 1010 (bits 0,2) = 5
    val hand = Seq(
      (0L, Seq(1.0f, -1.0f, 2.0f, 0.0f)),   // bits {0,2} -> 5
      (1L, Seq(-1.0f, 3.0f, -2.0f, 4.0f)),  // bits {1,3} -> 10
      (2L, Seq(1.0f, 3.0f, 2.0f, 4.0f)),    // all -> 15
      (3L, Seq(0.0f, 0.0f, 0.0f, 0.0f)))    // none -> 0
      .toDF("vec_id", "embedding")
    val hb = Similarity.quantizeBinary(hand, dim = 4)
      .select(col("vec_id"), element_at(col("bvec"), 1).as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hb == Map(0L -> 5L, 1L -> 10L, 2L -> 15L, 3L -> 0L),
      s"got $hb")
    // bit 31 boundary: a positive coordinate at position 32 sets the
    // word's top used bit WITHOUT going negative; position 33 starts
    // word 2
    val wide = Seq((0L, (Seq.fill(31)(-1.0f) :+ 1.0f :+ 1.0f) ++
      Seq.fill(31)(-1.0f))).toDF("vec_id", "embedding")
    val ww = Similarity.quantizeBinary(wide, dim = 64)
      .select(element_at(col("bvec"), 1), element_at(col("bvec"), 2))
      .head()
    assert(ww.getLong(0) == (1L << 31) && ww.getLong(1) == 1L,
      s"got $ww")
    // packed hamming == naive sign disagreement on the 64-dim corpus
    val embs = (0L until 50L).map { i =>
      (i, (0 until 64).map(j =>
        (((i * 31 + j * 17) % 13) - 6).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val bin = Similarity.quantizeBinary(embs).cache()
    val queries = bin.filter(col("vec_id") < 2)
      .select(col("vec_id").as("q_id"), col("bvec").as("q_bvec"))
    val got = Similarity.hammingTopK(bin, queries, k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSeq
    // self is always rank 1 at distance 0
    assert(got.filter(_._2 == 1).map(t => (t._1, t._3, t._4)).toSet ==
      Set((0L, 0L, 0L), (1L, 1L, 0L)), s"got $got")
    // naive recomputation agrees on every returned row
    val raw = embs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def naive(a: Long, b: Long): Long =
      raw(a).zip(raw(b)).count { case (x, y) => (x > 0) != (y > 0) }
    got.foreach { case (q, _, id, h) =>
      assert(naive(q, id) == h, s"pair ($q,$id): $h vs ${naive(q, id)}")
    }
    // ranks ascend in distance, ties by id
    got.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      sorted.zip(sorted.drop(1)).foreach { case (x, y) =>
        assert(x._4 < y._4 || (x._4 == y._4 && x._3 < y._3),
          s"rank order broken: $x then $y")
      }
    }
  }

  test("centroidChain + packSequencesSimilar: the chain walks to the " +
    "most similar unvisited centroid (ties to the smallest id); " +
    "documents pack in cluster-chain runs per shard, embedding-less " +
    "docs land in the tail group") {
    import graft.ml.Similarity
    // three centroids with engineered similarity: cos(c0,c1)=cos(c1,c2)
    // ~0.7, cos(c0,c2)=0 -> chain 0 -> 1 -> 2
    def vec(c: Int, j: Int): Seq[Float] = {
      val base = c match {
        case 0 => Array(10f, 0f, 0f, 0f)
        case 1 => Array(7f, 7f, 0f, 0f)
        case 2 => Array(0f, 10f, 0f, 0f)
      }
      base(3) = j * 0.01f
      base.toSeq
    }
    val assigned = (0L until 30L).map(i =>
      (i, (i % 3).toInt, vec((i % 3).toInt, (i / 3).toInt)))
      .toDF("doc_id", "cluster", "embedding")
    val chain = Similarity.centroidChain(
      Similarity.ivfIndex(assigned, "cluster"), dim = 4)
    assert(chain == Seq(0, 1, 2), s"got $chain")
    // orthogonal tie case: all cosines equal -> id order
    val orth = Seq((0, Seq(1f, 0f, 0f, 0f)), (1, Seq(0f, 1f, 0f, 0f)),
      (2, Seq(0f, 0f, 1f, 0f))).toDF("cluster", "embedding")
    assert(Similarity.centroidChain(
      Similarity.ivfIndex(orth, "cluster"), dim = 4) == Seq(0, 1, 2))
    // the packing: docs interleave clusters by id; one doc (100) has
    // no embedding row and must land in the tail group
    val docs = ((0L until 30L).map(i =>
      (i, Seq.fill(6 + (i % 5).toInt)("w").mkString(" "))) :+
      (100L, "tail doc without any embedding row here"))
      .toDF("doc_id", "text")
    val packed = TextOps.packSequencesSimilar(docs, assigned,
        maxTokens = 25, nShards = 2)
      .join(assigned.select(col("doc_id"), col("cluster")),
        Seq("doc_id"), "left")
      .orderBy("shard", "pack_id", "pack_pos")
      .collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("pack_id"),
        r.getAs[Int]("pack_pos"), r.getAs[Long]("doc_id"),
        Option(r.getAs[Any]("cluster")).map(_.toString)
          .getOrElse("tail")))
    assert(packed.length == 31)
    // per shard: the walk visits clusters in chain order as contiguous
    // runs, tail group last
    packed.groupBy(_._1).foreach { case (sh, rows) =>
      val walk = rows.sortBy(t => (t._2, t._3)).map(_._5)
      val runs = walk.foldLeft(List.empty[String]) { (acc, s) =>
        if (acc.headOption.contains(s)) acc else s :: acc }.reverse
      assert(runs == runs.distinct, s"shard $sh interleaves: $walk")
      // chain order preserved among the clusters present
      val order = runs.filter(_ != "tail")
      assert(order == order.sorted, s"shard $sh out of chain: $runs")
      if (runs.contains("tail"))
        assert(runs.last == "tail", s"tail not last in shard $sh: $runs")
    }
  }

  test("packSequencesSimilar docGranular: the within-cluster NN walk " +
    "beats the cluster-granular md5 order on within-pack cosine, " +
    "chainPool blocks stay sequential, null-embedding docs keep " +
    "their cluster rank") {
    // one cluster, two internal directions: even ids point A, odd ids
    // point B (cos(A,A)=cos(B,B)=1, cos(A,B)=0). Ids 10-25 so string
    // sort == numeric sort. 6-token texts at maxTokens=12 → 2 docs a
    // pack; the doc-granular walk chains all A then all B, so every
    // pack pair is same-side (mean within-pack cos = 1); md5 order
    // inside the cluster mixes the sides.
    def v(i: Long): Seq[Float] =
      if (i % 2 == 0) Seq(10f, 0f, 0f, 0f) else Seq(0f, 10f, 0f, 0f)
    val assigned = (10L to 25L).map(i => (i, 0, v(i)))
      .toDF("doc_id", "cluster", "embedding")
    val docs = (10L to 25L).map(i => (i, Seq.fill(6)("w").mkString(" ")))
      .toDF("doc_id", "text")
    def packMeanCos(docGranular: Boolean): Double = {
      val packed = TextOps.packSequencesSimilar(docs, assigned,
          maxTokens = 12, nShards = 1, dim = 4,
          docGranular = docGranular)
        .collect()
        .map(r => (r.getAs[Long]("pack_id"), r.getAs[Long]("doc_id")))
        .groupBy(_._1).values.map(_.map(_._2).sorted.toSeq).toSeq
      assert(packed.forall(_.size == 2), s"packs: $packed")
      val cosines = packed.map { case Seq(a, b) =>
        if (a % 2 == b % 2) 1.0 else 0.0 }
      cosines.sum / cosines.size
    }
    val docMean = packMeanCos(docGranular = true)
    val clusterMean = packMeanCos(docGranular = false)
    assert(docMean == 1.0, s"doc-granular mean cos: $docMean")
    assert(docMean > clusterMean,
      s"doc $docMean vs cluster $clusterMean") // md5 order mixes sides
    // chainPool blocks: pool of 4 over 16 id-sorted docs → 4 blocks,
    // each chained exactly and emitted in block order — every pack
    // still holds one block's (same-parity-chained) neighbors; the
    // walk never reaches across a block boundary
    val pooled = TextOps.packSequencesSimilar(docs, assigned,
        maxTokens = 12, nShards = 1, dim = 4,
        docGranular = true, chainPool = 4)
      .orderBy("pack_id", "pack_pos").collect()
      .map(r => r.getAs[Long]("doc_id"))
    assert(pooled.toSet == (10L to 25L).toSet)
    val blockOf = (id: Long) => (id - 10) / 4
    pooled.grouped(2).foreach { p =>
      assert(blockOf(p(0)) == blockOf(p(1)),
        s"pack straddles blocks: ${p.toSeq} in ${pooled.toSeq}") }
    // a null-embedding doc keeps its cluster rank (sorts after that
    // cluster's chained docs, before the no-cluster tail)
    val withNull = (10L to 13L).map(i => (i, 0, Some(v(i)))) :+
      ((14L, 0, Option.empty[Seq[Float]]))
    val nd = withNull.toDF("doc_id", "cluster", "embedding")
    val ndocs = (10L to 15L).map(i => (i, "w w w w w w"))
      .toDF("doc_id", "text") // 15 has no assignment row at all
    val order = TextOps.packSequencesSimilar(ndocs, nd, maxTokens = 12,
        nShards = 1, dim = 4, docGranular = true)
      .orderBy("pack_id", "pack_pos").collect()
      .map(r => r.getAs[Long]("doc_id"))
    assert(order.indexOf(14L) == 4, s"order: ${order.toSeq}")
    assert(order.last == 15L, s"order: ${order.toSeq}")
    // NaN embedding components must not strand the walk: when every
    // unvisited candidate's cosine is NaN the strict > never fires —
    // the sentinel guard keeps the chain alive (previously
    // visited(-1) crashed the executor) and falls back to the
    // smallest-id unvisited doc
    val nanVecs = Seq(
      (10L, 0, Seq(10f, 0f, 0f, 0f)),
      (11L, 0, Seq(Float.NaN, 1f, 0f, 0f)),
      (12L, 0, Seq(Float.NaN, Float.NaN, 1f, 0f)))
      .toDF("doc_id", "cluster", "embedding")
    val nanDocs = (10L to 12L).map(i => (i, "w w w w w w"))
      .toDF("doc_id", "text")
    val nanOrder = TextOps.packSequencesSimilar(nanDocs, nanVecs,
        maxTokens = 12, nShards = 1, dim = 4, docGranular = true)
      .orderBy("pack_id", "pack_pos").collect()
      .map(r => r.getAs[Long]("doc_id"))
    assert(nanOrder.toSeq == Seq(10L, 11L, 12L),
      s"NaN walk order: ${nanOrder.toSeq}")
  }

  test("packers count with a loaded tokenizer via countWith: n_tokens " +
    "becomes the real subword count and pack boundaries move; the " +
    "default stays the whitespace proxy; unigram counters are named") {
    import graft.text.{TextOps, TokenizerFiles}
    val tok = getClass
      .getResource("/graft/fixture_metaspace_tokenizer.json").getPath
    val counter = TokenizerFiles.tokenCounter(
      TokenizerFiles.loadTokenizer(spark, tok))
    val docs = Seq((1L, "The cat sat on the mat."), (2L, "the cat"))
      .toDF("doc_id", "text")
    def packMap(countWith: Option[
        org.apache.spark.sql.Column => org.apache.spark.sql.Column])
        : Map[Long, (Long, Long)] =
      TextOps.packSequencesGreedy(docs, maxTokens = 10, nShards = 1,
          countWith = countWith)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("pack_id"))))
        .toMap
    val withTok = packMap(Some(counter))
    // the fixture's real counts: 10 subwords ("▁ T h e" + ...) and 2
    assert(withTok(1L)._1 == 10L && withTok(2L)._1 == 2L, s"$withTok")
    assert(withTok(1L)._2 != withTok(2L)._2,
      s"10 + 2 > 10 must split packs: $withTok")
    val plain = packMap(None)
    assert(plain(1L)._1 == 6L && plain(2L)._1 == 2L, s"$plain")
    assert(plain(1L)._2 == plain(2L)._2,
      s"6 + 2 <= 10 must share a pack: $plain")
    // BFD and the packWith dispatch take the same counter
    val bfd = TextOps.packSequencesBfd(docs, maxTokens = 10,
        nShards = 1, countWith = Some(counter))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_tokens")).toMap
    assert(bfd == Map(1L -> 10L, 2L -> 2L), s"$bfd")
    val viaDispatch = TextOps.packWith("bfd", docs, 10, 1,
        countWith = Some(counter))
      .agg(sum("n_tokens")).head().getLong(0)
    assert(viaDispatch == 12L)
    // a unigram tokenizer cannot be a per-row counter — named
    val uni = TokenizerFiles.UnigramTokenizer("unigram",
      Seq(("▁a", -1.0)).toDF("piece", "lnp"))
    val e = intercept[IllegalArgumentException](
      TokenizerFiles.tokenCounter(uni))
    assert(e.getMessage.contains("distinct-word"), s"${e.getMessage}")
  }

  test("unigramTokenCounts: per-doc budgets from ONE domain DP, " +
    "over-maxLen words fall back to their char count, and the counts " +
    "pack via the countWith column trick") {
    import graft.text.TextOps
    // 'extraordinarily' (15 chars) sits outside the maxLen=12 DP
    val docs = Seq((1L, "ab ab c"), (2L, "ab extraordinarily c"))
      .toDF("doc_id", "text")
    val vocab = Seq(("a", -1.0), ("b", -1.2), ("c", -1.5), ("ab", -0.7))
      .toDF("piece", "lnp")
    val counts = TextOps.unigramTokenCounts(docs, vocab)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        r.getLong(2)))).toMap
    // doc 1: ab|ab|c all single pieces (ab beats a+b) → 3 over 3 words
    // doc 2: ab(1) + 15-char fallback + c(1) → 17 over 3 words
    assert(counts(1L) == ((3L, 3L)), s"$counts")
    assert(counts(2L) == ((3L, 17L)), s"$counts")
    // pack by the budgets: join them on, then a counter lambda that
    // ignores its text argument and reads the joined column
    val withN = docs.join(TextOps.unigramTokenCounts(docs, vocab)
      .select(col("doc_id"), col("n_tokens").as("_uni")), Seq("doc_id"))
    val packed = TextOps.packSequencesGreedy(withN, maxTokens = 17,
        nShards = 1, countWith = Some(_ => col("_uni")))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("pack_id"),
        r.getAs[Int]("truncated")))
    assert(packed.map(x => x._1 -> x._2).toMap ==
      Map(1L -> 3L, 2L -> 17L), s"${packed.toSeq}")
    // 3 + 17 > 17 → two packs; 17 fits exactly → nothing truncated
    assert(packed.map(_._3).distinct.length == 2, s"${packed.toSeq}")
    assert(packed.forall(_._4 == 0), s"${packed.toSeq}")
  }

  test("unigramTrain driver fast path == distributed loop bit-for-bit " +
    "(gate honored end-to-end, 0 forces distributed)") {
    import graft.text.TextOps
    val docs = Seq("the cat the cat the", "the dog sat on the mat",
      " császár ünnep öt", "a aa aaa aaaa the").toDF("text")
    def run(gate: Long): Seq[(String, Long, Double)] =
      TextOps.unigramTrain(docs, targetVocab = 15, rounds = 2,
          driverMaxWords = gate).orderBy("piece").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val driver = run(2000000L)
    val distributed = run(0L)
    assert(driver == distributed,
      s"driver/distributed diverge:\n$driver\n$distributed")
    // seed replay parity on its own: substringVocabDriver == the
    // relational substringVocab over the same distinct words
    val words = Seq("the", "cat", "ünnep", "aaaa").toDF("word")
    val rel = TextOps.substringVocab(words).collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
    val drv = TextOps.substringVocabDriver(
      Seq("the", "cat", "ünnep", "aaaa")).sortBy(_._1)
    assert(rel == drv, s"seed diverges:\n$rel\n$drv")
  }

  test("unigramTrain + writeTokenizerJsonUnigram: two EM rounds with " +
    "protected-singles pruning hit the target vocab; the shipped " +
    "Unigram tokenizer.json round-trips loadTokenizer in plain and " +
    "Metaspace forms") {
    import graft.text.{TextOps, TokenizerFiles}
    val docs = Seq("the cat the cat the", "the dog sat").toDF("text")
    val trained = TextOps.unigramTrain(docs, targetVocab = 12,
        rounds = 2).orderBy("piece").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // 9 corpus chars are protected singles; target 12 leaves 3 multis
    val singles = trained.map(_._1).filter(_.length == 1).toSet
    assert(singles == "thecadogs".map(_.toString).toSet, s"$singles")
    assert(trained.size == 12, s"${trained.size}: $trained")
    assert(trained.count(_._1.length > 1) == 3)
    // every lnp is a finite negative log prob on the dyadic grid
    trained.foreach { case (p, _, lnp) =>
      assert(lnp < 0 && lnp * 1048576.0 == math.rint(lnp * 1048576.0),
        s"$p: $lnp off-grid") }
    // 'the' (the dominant word) keeps its whole-word piece
    assert(trained.exists(_._1 == "the"), s"$trained")
    // ship plain: vocab parity through the file
    val tmp = java.nio.file.Files.createTempDirectory("graft_uship")
    val plain = tmp.resolve("uni.json").toString
    val pairs = trained.map(t => (t._1, t._3))
    TokenizerFiles.writeTokenizerJsonUnigram(spark, plain, pairs)
    val back = TokenizerFiles.loadTokenizer(spark, plain)
      .asInstanceOf[TokenizerFiles.UnigramTokenizer]
    assert(back.family == "unigram")
    assert(back.vocab.orderBy("piece").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      pairs.sortBy(_._1))
    // ...and the loaded vocab actually segments
    val seg = TextOps.unigramSegment(
      Seq("thecat").toDF("word"), back.vocab).head()
    assert(seg.getString(3).split("\\|").mkString == "thecat")
    // metaspace form carries the ▁-word-domain builder back
    val meta = tmp.resolve("uni_ms.json").toString
    TokenizerFiles.writeTokenizerJsonUnigram(spark, meta, pairs,
      metaspace = true)
    val mb = TokenizerFiles.loadTokenizer(spark, meta)
      .asInstanceOf[TokenizerFiles.UnigramTokenizer]
    val dom = Seq("the cat").toDF("text")
      .select(mb.preTokens(col("text"))).head().getSeq[String](0)
    assert(dom == Seq("▁the", "▁cat"), s"got $dom")
    // duplicate pieces rejected
    val dup = intercept[IllegalArgumentException](
      TokenizerFiles.writeTokenizerJsonUnigram(spark,
        tmp.resolve("d.json").toString, Seq(("a", -1.0), ("a", -2.0))))
    assert(dup.getMessage.contains("distinct"))
  }

  test("bpeTrainMetaspace + writeTokenizerJsonBpe: merges learned in " +
    "the ▁ alphabet match hand-computed pair counts; the shipped " +
    "tokenizer.json round-trips loadTokenizer with family, config, " +
    "and encode parity; all three pre-tokenizer kinds serialize") {
    import graft.text.{TextOps, TokenizerFiles}
    // pre-tokens: ▁the x3, ▁cat x2, ▁dog x1. Round 1 ties (▁,t)/(t,h)/
    // (h,e) at 3 — lhs order picks (h,e) ('h' < 't' < '▁', U+2581
    // sorts above ASCII); round 2 ties (▁,t)/(t,he) → (t,he); round 3
    // (▁,the) alone at 3
    val docs = Seq("the cat the cat", "the dog").toDF("text")
    val learned = TextOps.bpeTrainMetaspace(docs, numMerges = 3)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(learned == Seq((1, "h", "e", 3L), (2, "t", "he", 3L),
      (3, "▁", "the", 3L)), s"got $learned")
    // ship it: corpus alphabet + merged symbols, ids by position
    val merges = learned.map(m => (m._2, m._3))
    val vocab = (Seq("▁", "a", "c", "d", "e", "g", "h", "o", "t") ++
      merges.map { case (a, b) => a + b }).distinct.zipWithIndex
    val tmp = java.nio.file.Files.createTempDirectory("graft_wtj")
    val shipped = tmp.resolve("tokenizer.json").toString
    TokenizerFiles.writeTokenizerJsonBpe(spark, shipped, merges, vocab)
    // the shipped file declares what was written...
    assert(TokenizerFiles.readPreTokenizerKind(spark, shipped) ==
      "metaspace")
    assert(TokenizerFiles.readMetaspaceConfig(spark, shipped) ==
      ("▁", "always"))
    assert(TokenizerFiles.readTokenizerJsonMerges(spark, shipped) ==
      merges)
    // ...and loads straight back into the metaspace encoder
    val lt = TokenizerFiles.loadTokenizer(spark, shipped)
      .asInstanceOf[TokenizerFiles.ColumnTokenizer]
    assert(lt.family == "bpe_metaspace")
    val enc = Seq("the cat").toDF("text")
      .select(lt.encode(col("text"))).head().getSeq[String](0)
    assert(enc == Seq("▁the", "▁ c a t"), s"got $enc")
    // ids flow through the shipped vocab too
    val bcV = TokenizerFiles.vocabBroadcastFromFile(spark, shipped)
    val bcM = TokenizerFiles.mergesBroadcastFromFile(spark, shipped)
    val vmap = vocab.toMap
    val ids = Seq("the cat").toDF("text")
      .select(TextOps.bpeEncodeIdsMetaspace(col("text"), bcM, bcV))
      .head().getSeq[Int](0)
    assert(ids == Seq(vmap("▁the"), vmap("▁"), vmap("c"), vmap("a"),
      vmap("t")), s"ids: $ids")
    // the other two families serialize and route on load
    val bl = tmp.resolve("bl.json").toString
    TokenizerFiles.writeTokenizerJsonBpe(spark, bl,
      Seq(("Ġ", "t"), ("h", "e")), Seq(("Ġ", 0), ("t", 1), ("h", 2),
        ("e", 3), ("Ġt", 4), ("he", 5)), preTokenizer = "byte_level")
    assert(TokenizerFiles.loadTokenizer(spark, bl)
      .asInstanceOf[TokenizerFiles.ColumnTokenizer]
      .family == "bpe_byte_level")
    val ws = tmp.resolve("ws.json").toString
    TokenizerFiles.writeTokenizerJsonBpe(spark, ws,
      Seq(("h", "e")), Seq(("h", 0), ("e", 1), ("he", 2)),
      preTokenizer = "whitespace")
    assert(TokenizerFiles.loadTokenizer(spark, ws)
      .asInstanceOf[TokenizerFiles.ColumnTokenizer]
      .family == "bpe_whitespace")
    // bad kind / duplicate vocab tokens fail descriptively
    val badKind = intercept[IllegalArgumentException](
      TokenizerFiles.writeTokenizerJsonBpe(spark,
        tmp.resolve("x.json").toString, Seq(("a", "b")),
        Seq(("a", 0)), preTokenizer = "sentencepiece"))
    assert(badKind.getMessage.contains("sentencepiece"))
    val dup = intercept[IllegalArgumentException](
      TokenizerFiles.writeTokenizerJsonBpe(spark,
        tmp.resolve("y.json").toString, Seq(("a", "b")),
        Seq(("a", 0), ("a", 1))))
    assert(dup.getMessage.contains("distinct"))
  }

  test("fixMojibake kernel: UTF-8-as-cp1252 damage heals (accents, C1 " +
    "punctuation, double-encoding in two passes); genuine Latin-1, " +
    "real non-Latin text, and lone cp1252 punctuation pass through " +
    "unchanged; idempotent; null/empty/ASCII fast paths") {
    import graft.text.TextOps
    def fx(s: String): String = Seq(s).toDF("t")
      .select(TextOps.fixMojibake(col("t")).as("f")).head().getString(0)
    assert(fx("cafÃ©") == "café")
    assert(fx("donâ€™t â€œquoteâ€") == "don’t “quote”")
    assert(fx("naÃ¯ve â€” dash") == "naïve — dash")
    assert(fx("cafÃƒÂ©") == "café") // double-encoded: two passes
    assert(fx("Â x") == " x") // nbsp mojibake
    // the strict re-decode is the false-positive guard:
    assert(fx("café") == "café") // genuine Latin-1: E9 + ASCII invalid
    assert(fx("καφές") == "καφές") // outside cp1252's image
    assert(fx("wait… what") == "wait… what") // lone 0x85 invalid
    assert(fx("100 €") == "100 €") // lone 0x80 invalid
    assert(fx("") == "")
    assert(fx("plain ascii stays") == "plain ascii stays")
    // idempotent: repaired text re-encodes to invalid UTF-8 and stops
    assert(fx(fx("cafÃ©")) == "café")
    val n = Seq[String](null).toDF("t")
      .select(TextOps.fixMojibake(col("t")).as("f")).head()
    assert(n.isNullAt(0))
  }

  test("hammingRerank: with rerankK = corpus size the two-stage answer " +
    "equals exact brute-force cosine top-k (recall 1 by construction); " +
    "rerankK < k rejected") {
    import graft.ml.Similarity
    val embs = (0L until 40L).map { i =>
      (i, (0 until 64).map(j =>
        (((i * 29 + j * 13) % 11) - 5).toFloat / 4.0f).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = embs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id"), col("rk"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toSeq.sorted
    val exact = rows(Similarity.batchTopK(embs, queries, k = 5))
    val two = rows(Similarity.hammingRerank(embs, queries, k = 5,
      rerankK = 40))
    assert(two == exact, s"two-stage $two vs exact $exact")
    // the default k' = 4k keeps the shape (ids may differ — recall<1)
    assert(Similarity.hammingRerank(embs, queries, k = 5).count() == 10L)
    intercept[IllegalArgumentException] {
      Similarity.hammingRerank(embs, queries, k = 5, rerankK = 3)
    }
  }

  test("packSequencesBfd: invariants (capacity, contiguous ids, " +
    "positions), tightest-fit placement, fill >= greedy on a " +
    "fragmented mix, oversized truncated singletons, bounded pool " +
    "still packs validly, determinism") {
    val docs = (0L until 60L).map(i =>
      (i, Seq.fill(5 + (i * 13 % 30).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    def collectPacks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getInt(5)))
    val got = collectPacks(TextOps.packSequencesBfd(docs,
      maxTokens = 40, nShards = 2))
    assert(got.length == 60)
    got.groupBy(t => (t._1, t._2)).foreach { case ((sh, p), rows) =>
      val total = rows.map(_._5).sum
      assert(total <= 40 || rows.length == 1,
        s"pack ($sh,$p) holds $total tokens across ${rows.length} docs")
    }
    got.groupBy(_._1).foreach { case (_, rows) =>
      val packs = rows.map(_._2).distinct.sorted.toSeq
      assert(packs == (0L until packs.length).toSeq)
      rows.groupBy(_._2).values.foreach { pr =>
        assert(pr.map(_._3).sorted.toSeq == (1 to pr.length).toSeq)
      }
    }
    // within each shard the walk is size-descending: a pack's pos-1
    // doc is at least as large as any later-opened pack's pos-1 doc
    got.groupBy(_._1).foreach { case (_, rows) =>
      val openers = rows.filter(_._3 == 1).sortBy(_._2).map(_._5)
      assert(openers.zip(openers.drop(1)).forall { case (a, b) => a >= b },
        s"openers not descending: ${openers.toSeq}")
    }
    // BFD fill >= greedy on the same corpus (fewer or equal packs)
    val greedyPacks = collectPacks(TextOps.packSequencesGreedy(docs,
      maxTokens = 40, nShards = 2)).map(t => (t._1, t._2)).distinct.length
    val bfdPacks = got.map(t => (t._1, t._2)).distinct.length
    assert(bfdPacks <= greedyPacks,
      s"bfd $bfdPacks packs vs greedy $greedyPacks")
    // tightest fit: with packs at remaining 5 and 12, a 5-token doc
    // joins the remaining-5 pack, not the emptier one
    val tight = Seq((0L, 35), (1L, 28), (2L, 5)).map { case (i, n) =>
      (i, Seq.fill(n)("w").mkString(" ")) }.toDF("doc_id", "text")
    val tg = collectPacks(TextOps.packSequencesBfd(tight,
      maxTokens = 40, nShards = 1))
    val packOf = tg.map(t => t._4 -> t._2).toMap
    assert(packOf(2L) == packOf(0L) && packOf(1L) != packOf(0L),
      s"got $tg")
    // determinism
    val again = collectPacks(TextOps.packSequencesBfd(docs,
      maxTokens = 40, nShards = 2))
    assert(again.sortBy(_._4).toSeq == got.sortBy(_._4).toSeq)
    // oversized docs become truncated singletons and never pool
    val big = Seq((1L, Seq.fill(99)("w").mkString(" ")),
      (2L, "small doc here")).toDF("doc_id", "text")
    val rows2 = collectPacks(TextOps.packSequencesBfd(big,
      maxTokens = 40, nShards = 1))
    val byId2 = rows2.map(t => t._4 -> t).toMap
    assert(byId2(1L)._6 == 1 && byId2(1L)._3 == 1)
    assert(byId2(2L)._6 == 0 && byId2(2L)._2 != byId2(1L)._2)
    // a 1-pack pool still yields a VALID packing (approximation may
    // open more packs, never an overfull or malformed one)
    val pooled = collectPacks(TextOps.packSequencesBfd(docs,
      maxTokens = 40, nShards = 2, openPool = 1))
    assert(pooled.length == 60)
    pooled.groupBy(t => (t._1, t._2)).foreach { case ((sh, p), rows) =>
      val total = rows.map(_._5).sum
      assert(total <= 40 || rows.length == 1,
        s"pooled pack ($sh,$p) holds $total tokens")
    }
    // the comparison report prices the two packers consistently
    val cmp = TextOps.packCompare(docs, maxTokens = 40, nShards = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(cmp("bfd")._1 == bfdPacks.toLong &&
      cmp("greedy")._1 == greedyPacks.toLong)
    assert(cmp("bfd")._2 == 60L && cmp("greedy")._2 == 60L)
    assert(cmp("bfd")._4 >= cmp("greedy")._4, s"got $cmp")
  }

  test("packSequencesGreedy: no pack exceeds the capacity except " +
    "oversized singletons, packs are contiguous per shard, the walk " +
    "follows the trainingShards order") {
    val docs = (0L until 40L).map(i =>
      (i, Seq.fill(5 + (i % 30).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextOps.packSequencesGreedy(docs, maxTokens = 40,
      nShards = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getInt(5)))
    assert(got.length == 40)
    // per (shard, pack): total ≤ capacity unless a single oversized doc
    got.groupBy(t => (t._1, t._2)).foreach { case ((sh, p), rows) =>
      val total = rows.map(_._5).sum
      assert(total <= 40 || rows.length == 1,
        s"pack ($sh,$p) holds $total tokens across ${rows.length} docs")
    }
    // pack ids contiguous from 0 per shard, positions 1..n within packs
    got.groupBy(_._1).foreach { case (_, rows) =>
      val packs = rows.map(_._2).distinct.sorted.toSeq
      assert(packs == (0L until packs.length).toSeq)
      rows.groupBy(_._2).values.foreach { pr =>
        assert(pr.map(_._3).sorted.toSeq == (1 to pr.length).toSeq)
      }
    }
    // determinism: a second run reproduces the exact assignment
    val again = TextOps.packSequencesGreedy(docs, maxTokens = 40,
      nShards = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getInt(5)))
    assert(again.sortBy(_._4).toSeq == got.sortBy(_._4).toSeq)
    // an oversized doc becomes a truncated singleton
    val big = Seq((1L, Seq.fill(99)("w").mkString(" ")),
      (2L, "small doc here")).toDF("doc_id", "text")
    val rows2 = TextOps.packSequencesGreedy(big, maxTokens = 40,
      nShards = 1).collect()
      .map(r => (r.getLong(3), r.getLong(1), r.getInt(5)))
    val byDoc = rows2.map(t => t._1 -> t).toMap
    assert(byDoc(1L)._3 == 1 && byDoc(2L)._3 == 0)
    assert(byDoc(1L)._2 != byDoc(2L)._2, "oversized doc must be alone")
  }

  test("bpeTrain: frequency-weighted argmax per round, later merges " +
    "build on merged symbols, lexicographic tie order, trained merges " +
    "drive bpeEncode end-to-end") {
    // occurrences: the ×3, them ×1 → round-1 counts (t,h)=4 (h,e)=4
    // tie → lhs order picks (h,e); round 2 merges (t,he); round 3 (the,m)
    val docs = Seq((1L, "the the the them")).toDF("doc_id", "text")
    val got = TextOps.bpeTrain(docs, numMerges = 3).orderBy("merge_rank")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got == Seq((1, "h", "e", 4L), (2, "t", "he", 4L),
      (3, "the", "m", 1L)), s"got $got")
    // the trained table IS bpeEncode's input — "them" folds to one token
    val merges = got.map(t => (t._2, t._3))
    val enc = Seq("they them").toDF("text")
      .select(TextOps.bpeEncode(col("text"), merges).as("e"))
      .head().getSeq[String](0).toSeq
    assert(enc == Seq("the y", "them"))
  }

  test("bpeTrain driver fast path == distributed loop: merges, counts " +
    "and tie order identical across all three alphabets") {
    val docs = Seq((1L, "the the them they then ab ab abc"),
      (2L, "Cafe ＡＢＣ cafe the zz zz zz z")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("merge_rank").collect().map(_.toSeq).toSeq
    assert(rows(TextOps.bpeTrain(docs, numMerges = 6)) ==
      rows(TextOps.bpeTrain(docs, numMerges = 6, driverMaxWords = 0)))
    assert(rows(TextOps.bpeTrainByteLevel(docs, numMerges = 5)) ==
      rows(TextOps.bpeTrainByteLevel(docs, numMerges = 5,
        driverMaxWords = 0)))
    assert(rows(TextOps.bpeTrainMetaspace(docs, numMerges = 5)) ==
      rows(TextOps.bpeTrainMetaspace(docs, numMerges = 5,
        driverMaxWords = 0)))
  }

  test("bpeTrain: stops early when every word is fully merged") {
    val docs = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    val got = TextOps.bpeTrain(docs, numMerges = 10).orderBy("merge_rank")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    // (a,b)=2 then (c,d)=1 — afterwards no adjacent pairs remain
    assert(got == Seq((1, "a", "b", 2L), (2, "c", "d", 1L)), s"got $got")
  }

  test("scoreMultiClassModel: per-label exact logits, argmax ties " +
    "break on label order, token-less docs score zero everywhere") {
    val docs = Seq((1L, "alpha alpha beta"), (2L, ""))
      .toDF("doc_id", "text")
    // labels x and y share identical weights → every logit ties; z
    // weights the buckets negatively → never wins
    val spark2 = docs.sparkSession
    val buckets = spark2.range(8).select(col("id").as("bucket"))
    val weights = Seq("x", "y", "z").toDF("label").crossJoin(buckets)
      .select(col("label"), col("bucket"),
        when(col("label") === "z", -1.0).otherwise(2.0).as("weight"))
    val got = TextOps.scoreMultiClassModel(docs, weights, numBuckets = 8)
      .orderBy("doc_id", "label").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getInt(3))).toSeq
    // doc 1: 3 tokens × weight 2 = 6 for x and y, -3 for z; tie → x
    // doc 2: no tokens → 0.0 everywhere → argmax = first label x
    assert(got == Seq(
      (1L, "x", 6.0, 1), (1L, "y", 6.0, 0), (1L, "z", -3.0, 0),
      (2L, "x", 0.0, 1), (2L, "y", 0.0, 0), (2L, "z", 0.0, 0)), s"got $got")
  }

  test("nbClassify: trained q156 counts route docs to their label, " +
    "unseen tokens take the per-label smoothing floor, all-unseen " +
    "ties break on label order, priors shift the verdict") {
    val train = Seq(
      (1L, "en", "the and of the"),
      (2L, "fr", "le la et le")).toDF("doc_id", "lang", "text")
    val model = TextOps.naiveBayesTrain(train, labelCol = "lang")
    val docs = Seq(
      (10L, "the of and"), (11L, "le et la"), (12L, "zz qq"))
      .toDF("doc_id", "text")
    val pred = TextOps.nbClassify(docs, model)
      .filter(col("pred") === 1).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // both labels have 4 tokens and vocab 6 → identical floors; doc 12
    // is all-unseen → tie → label asc → en
    assert(pred == Seq((10L, "en"), (11L, "fr"), (12L, "en")), s"got $pred")
    // an ln-prior toward fr flips only the tied all-unseen doc
    val priors = Seq(("en", -1.0), ("fr", 0.0)).toDF("label", "ln_prior")
    val withPri = TextOps.nbClassify(docs, model, priors = Some(priors))
      .filter(col("pred") === 1).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(withPri == Seq((10L, "en"), (11L, "fr"), (12L, "fr")),
      s"got $withPri")
  }

  test("naiveBayesTrain: closed-form counts and add-one smoothing") {
    val docs = Seq((1L, "a", "x y x"), (2L, "a", "y"), (3L, "b", "z"))
      .toDF("doc_id", "lab", "text")
    val got = TextOps.naiveBayesTrain(docs, "lab").orderBy("label", "token")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    // vocab = {x, y, z} = 3; label a has 4 tokens, b has 1
    assert(got == Seq(
      ("a", "x", 2L, 4L, 3L, 3.0 / 7),
      ("a", "y", 2L, 4L, 3L, 3.0 / 7),
      ("b", "z", 1L, 1L, 3L, 2.0 / 4)))
  }

  test("mojibakeStats: replacement/control/non-ascii counts, exact " +
    "fraction, tab and newline NOT flagged as control damage") {
    val docs = Seq(
      (1L, "ok\ttext\n"), (2L, "bad\uFFFD\uFFFDend"),
      (3L, "bell\u0007"), (4L, "café"), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextOps.mojibakeStats(docs).orderBy("doc_id").collect()
    def row(i: Int) = (got(i).getInt(2), got(i).getInt(3), got(i).getInt(4),
      got(i).getInt(6))
    assert(row(0) == (0, 0, 0, 0)) // \t \n exempt
    assert(row(1) == (2, 0, 2, 1)) // U+FFFD is also non-ASCII
    assert(row(2) == (0, 1, 0, 1))
    assert(row(3) == (0, 0, 1, 0)) // accents are fine, not damage
    assert(got(4).getInt(1) == 0 && got(4).getInt(6) == 0) // null -> ""
    assert(got(3).getDouble(5) == 1.0 / 4)
  }

  test("contaminationReport: distinct-shingle hit counts per eval doc, " +
    "zero-filled misses") {
    val train = Seq((1L, "a b c d"), (2L, "x y z w")).toDF("doc_id", "text")
    val evalSet = Seq((10L, "a b c d"), (11L, "a b q r"),
      (12L, "q r s t")).toDF("doc_id", "text")
    val got = TextOps.contaminationReport(train, evalSet, n = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // bigrams: 10 -> {ab,bc,cd} all hit; 11 -> {ab,bq,qr} one hit;
    // 12 -> {qr,rs,st} none
    assert(got == Seq((10L, 3L, 3L, 1.0), (11L, 3L, 1L, 1.0 / 3),
      (12L, 3L, 0L, 0.0)))
  }

  test("oovStats: vocab membership case-folded, empty text zero") {
    val docs = Seq((1L, "The cat and dog"), (2L, "")).toDF("doc_id", "text")
    val got = TextOps.oovStats(docs, Seq("the", "and")).orderBy("doc_id")
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(got == Seq((4, 2, 0.5), (0, 0, 0.0)))
  }

  test("sentenceStats: [.!?]+ delimiters, whitespace segments dropped, " +
    "exact mean of trimmed lengths") {
    val docs = Seq((1L, "Hi there. Go!  Ok?"), (2L, "no delimiters"),
      (3L, "...")).toDF("doc_id", "text")
    val got = TextOps.sentenceStats(docs).orderBy("doc_id").collect()
      .map(r => (r.getInt(1), r.getDouble(2))).toSeq
    // "Hi there"(8), "Go"(2), "Ok"(2) -> 3 sentences, mean 4.0
    assert(got == Seq((3, 4.0), (1, 13.0), (0, 0.0)))
  }

  test("temperatureWeights: sqrt weights, relative to the largest source") {
    val docs = Seq((1L, "s1", "a b c d"), (2L, "s1", "e f g h i j k l m"),
      (3L, "s2", "a b c d")).toDF("doc_id", "source", "text")
    val got = TextOps.temperatureWeights(docs).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    // s1: 13 tokens, s2: 4 -> weights sqrt(13), 2.0; rel = w / sqrt(13)
    assert(got == Seq(
      ("s1", 13L, math.sqrt(13.0), 1.0),
      ("s2", 4L, 2.0, 2.0 / math.sqrt(13.0))))
  }

  test("bigramLm: closed-form conditionals, (count desc, w2) rank order, " +
    "top-k cap, single-token docs skipped") {
    val docs = Seq((1L, "a b a b a c"), (2L, "b c"), (3L, "x"))
      .toDF("doc_id", "text")
    val got = TextOps.bigramLm(docs, k = 2).orderBy("w1", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getInt(5))).toSeq
    // pairs: doc1 ab ba ab ba ac; doc2 bc. contexts: a->{b:2,c:1}=3,
    // b->{a:2,c:1}=3; x emits nothing
    assert(got == Seq(
      ("a", "b", 2L, 3L, 2.0 / 3, 1), ("a", "c", 1L, 3L, 1.0 / 3, 2),
      ("b", "a", 2L, 3L, 2.0 / 3, 1), ("b", "c", 1L, 3L, 1.0 / 3, 2)))
  }

  test("normalizeText: quotes/dashes/NBSP folded, whitespace collapsed, " +
    "trimmed, null-safe") {
    val docs = Seq(
      Some("\u201Chi\u201D \u2018x\u2019 \u2013 y\u2014z\u00A0w"),
      Some("  a \t b \n c  "), None).toDF("text")
    val got = docs.select(TextOps.normalizeText(col("text")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("\"hi\" 'x' - y-z w", "a b c", ""))
  }

  test("extractAnchors: (href, anchor) pairs in order, mixed case and " +
    "quote styles, nested-markup anchors excluded") {
    val html = "<a href=\"/x\">first</a> mid " +
      "<A HREF='/y' class=z>second</A> <a href=\"/n\"><b>skip</b></a>"
    val got = Seq(html).toDF("h")
      .select(explode(TextOps.extractAnchors(col("h"))).as("p"))
      .select("p.link", "p.anchor").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("/x", "first"), ("/y", "second")))
  }

  test("exactKeepLatest: newest order wins, id breaks ties, copies " +
    "and winning order reported") {
    val docs = Seq((1L, "t", 5L), (2L, "t", 9L), (3L, "t", 9L),
      (4L, "u", 1L)).toDF("doc_id", "text", "crawl")
    val got = Dedup.exactKeepLatest(docs, "crawl").orderBy("keep_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((3L, 3L, 9L), (4L, 1L, 1L)))
  }

  test("c4LineFilter: short and punctless lines dropped, lorem-ipsum and " +
    "brace docs dropped whole, zero-keep docs dropped") {
    val docs = Seq(
      (1L, "This sentence is kept here.\ntoo short.\nno terminal punct " +
        "at all\nAnother keeper stays right here!"),
      (2L, "Lorem Ipsum dolor sit amet."),
      (3L, "function f() { return 1; } is here."),
      (4L, "nothing survives this one"),
      (5L, "Ends with a quote \"here.\""),
      (6L, "Too few words here.")).toDF("doc_id", "text")
    val got = TextOps.c4LineFilter(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(got == Seq(
      (1L, 4L, 2L,
        "This sentence is kept here.\nAnother keeper stays right here!"),
      (5L, 1L, 1L, "Ends with a quote \"here.\"")))
    // doc 6's only line has 4 words: kept under the pre-C4 floor of 3,
    // dropped under the paper-default 5
    val relaxed = TextOps.c4LineFilter(docs, minWordsPerLine = 3)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(relaxed == Seq(1L, 5L, 6L))
  }

  test("c4LineFilter minSentences: pages with fewer kept sentence " +
    "terminators than the floor are dropped whole") {
    val docs = Seq(
      (1L, "One kept sentence lives right here.\n" +
        "And a second kept sentence follows it.\n" +
        "Finally a third kept sentence ends it."),
      (2L, "Only a single kept sentence here.")).toDF("doc_id", "text")
    val strict = TextOps.c4LineFilter(docs, minSentences = 3)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(strict == Seq(1L)) // doc 2: 1 terminator < 3
    val lax = TextOps.c4LineFilter(docs)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(lax == Seq(1L, 2L)) // default keeps the rule off
  }

  test("paragraphDedup: first (doc_id, pos) owns each paragraph, rewrites " +
    "preserve order, fully-owned docs survive with an empty rewrite") {
    val docs = Seq(
      (1L, "unique one\n\nshared footer"),
      (2L, "shared footer\n\nunique two"),
      (3L, "shared footer"),
      (4L, ""),
      (5L, "shared footer\n\nshared footer")).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(got == Seq(
      (1L, 2L, 2L, "unique one\n\nshared footer"), // owns both
      (2L, 2L, 1L, "unique two"), // footer owned by doc 1 pos 1
      (3L, 1L, 0L, ""), // everything owned elsewhere
      (4L, 0L, 0L, ""), // empty text: zero paragraphs, still present
      (5L, 2L, 0L, ""))) // both copies lose to doc 1
  }

  test("paragraphDedup: string doc ids keep their native type — no " +
    "silent null-cast, ownership by lexicographic (id, pos)") {
    val docs = Seq(
      ("crawl-a", "unique one\n\nshared footer"),
      ("crawl-b", "shared footer\n\nunique two")).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs).orderBy("doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(got == Seq(
      ("crawl-a", 2L, 2L, "unique one\n\nshared footer"),
      ("crawl-b", 2L, 1L, "unique two")))
  }

  test("pplBuckets: per-stratum thirds ordered by nll then id, " +
    "single-doc strata land in head") {
    val docs = Seq(
      (1L, "s1", "a a a a"), (2L, "s1", "a a b b"), (3L, "s1", "b c c d"),
      (4L, "s2", "a a a a")).toDF("doc_id", "source", "text")
    val got = TextOps.pplBuckets(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSeq
    // corpus counts: a=9 b=3 c=2 d=1 of 15 → doc1 all-a is most fluent
    assert(got == Seq((1L, "s1", "head"), (2L, "s1", "middle"),
      (3L, "s1", "tail"), (4L, "s2", "head")))
  }

  test("kmvDistinct: estimate from the kth smallest md5, exact-count " +
    "fallback under k, distinct-before-rank semantics") {
    val docs = Seq(
      (1L, "big", ('a' to 'z').mkString(" ")),
      (2L, "big", ('a' to 'z').mkString(" ")), // repeats add no hashes
      (3L, "small", "x y z")).toDF("doc_id", "source", "text")
    val got = TextOps.kmvDistinct(docs, k = 4, groupCol = "source")
      .orderBy("source").collect()
    val big = got(0)
    assert(big.getString(0) == "big" && big.getLong(1) == 26L)
    // replay the estimator from the reported kth hash
    val frac = java.lang.Long.parseLong(
      big.getString(2).substring(0, 12), 16).toDouble / math.pow(16, 12)
    assert(big.getDouble(3) ==
      BigDecimal(3.0 / frac).setScale(3,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    val small = got(1)
    assert(small.getString(0) == "small" && small.getLong(1) == 3L &&
      small.getDouble(3) == 3.0) // < k → exact
  }

  test("stratifiedSplit: exact 80/10/10 cuts per stratum, tiny strata " +
    "still produce a test row at n=10") {
    val docs = (0L until 20L).map(i => (i, "s" + (i % 2)))
      .toDF("doc_id", "source")
    val got = TextOps.stratifiedSplit(docs).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val bySrc = got.groupBy(_._1).view.mapValues(
      _.groupBy(_._2).view.mapValues(_.size).toMap).toMap
    // each stratum has 10 rows → exactly 8/1/1
    assert(bySrc("s0") == Map("train" -> 8, "val" -> 1, "test" -> 1))
    assert(bySrc("s1") == Map("train" -> 8, "val" -> 1, "test" -> 1))
  }

  test("pqAdcTopK: LUT distances match per-subspace codebook math, " +
    "nearest-by-ADC order, id tiebreak") {
    // dim=4, m=2 subspaces of 2 dims, k=2 codebook = vectors 0 and 1
    val embs = Seq(
      (0L, Seq(0.0, 0.0, 0.0, 0.0)), // centroid 0
      (1L, Seq(10.0, 0.0, 0.0, 10.0)), // centroid 1
      (2L, Seq(1.0, 0.0, 0.0, 1.0)), // codes (0,0)
      (3L, Seq(9.0, 0.0, 0.0, 9.0))) // codes (1,1)
      .toDF("vec_id", "embedding")
    val q = Array(1.0, 0.0, 0.0, 0.0) // query
    val got = Similarity.pqAdcTopK(embs, q, topK = 4, m = 2, k = 2,
      dim = 4).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // LUT: j=0: d(q0,[0,0])=1, d(q0,[10,0])=81; j=1: d(q1,[0,0])=0,
    // d(q1,[0,10])=100. ADC: v0/v2=(0,0)→1+0=1; v1/v3=(1,1)→81+100=181
    assert(got == Seq((0L, 1.0), (2L, 1.0), (1L, 181.0), (3L, 181.0)))
  }

  test("embeddingAudit: exact norms, zero-vector and wrong-dim counts, " +
    "per-group min/max") {
    val embs = Seq(
      (0L, Seq(3.0, 4.0, 0.0, 0.0), 1), // norm 5
      (1L, Seq(0.0, 0.0, 0.0, 0.0), 1), // zero vector
      (2L, Seq(1.0, 0.0), 1), // wrong dim
      (3L, Seq(0.0, 2.0, 0.0, 0.0), 2)) // norm 2
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingAudit(embs, dim = 4).orderBy("label")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == Seq((1, 3L, 1L, 1L, 0.0, 5.0), (2, 1L, 0L, 0L, 2.0, 2.0)))
  }

  test("interpolatedNll: closed-form Jelinek-Mercer mix, " +
    "single-token docs drop out") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "x"))
      .toDF("doc_id", "text")
    val got = TextOps.interpolatedNll(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // tokens: a,b,a,b,x → p_uni(b)=2/5; transitions: a→b twice,
    // P(b|a)=1. mix = 0.5·1 + 0.5·0.4 = 0.7
    val nll = BigDecimal(-math.log(0.7)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq((1L, 1L, nll), (2L, 1L, nll)))
  }

  test("semanticDecontaminate: near-copies of eval vectors drop, " +
    "unrelated train vectors survive, zero-norm rows never divide, " +
    "the threshold is inclusive") {
    import graft.dedup.Dedup
    def v(base: Seq[Float], eps: Float): Seq[Float] =
      base.zipWithIndex.map { case (x, i) =>
        if (i == 7) x + eps else x }
    val axis = Seq.tabulate(8)(i => if (i == 0) 10f else 0f)
    val other = Seq.tabulate(8)(i => if (i == 3) 10f else 0f)
    val train = Seq(
      (1L, axis),               // exact eval copy -> drop
      (2L, v(axis, 0.2f)),      // near-copy (cos ~0.9998) -> drop
      (3L, other),              // orthogonal -> survives
      (4L, Seq.fill(8)(0f)))    // zero norm -> guarded, survives
      .toDF("vec_id", "embedding")
    val ev = Seq(Tuple1(axis)).toDF("embedding")
    val kept = Dedup.semanticDecontaminate(train, ev,
        minCosine = 0.99, planes = 4, dim = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(kept == Seq(3L, 4L), s"kept $kept")
    // inclusive threshold: an exact copy at minCosine = 1.0 still drops
    val keptExact = Dedup.semanticDecontaminate(train, ev,
        minCosine = 1.0, planes = 4, dim = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(keptExact == Seq(2L, 3L, 4L), s"kept $keptExact")
    // multi-probe recovers a one-plane bucket miss: engineer a train
    // vector whose 4-plane key differs from the eval key in exactly
    // one bit but whose cosine clears the threshold — single-probe
    // keeps it, multi-probe drops it
    import graft.ml.Similarity
    // the key computed driver-side from the SAME public plane
    // constants the kernel uses (the oracle-replay convention)
    def key(v: Seq[Float]): Long = (0 until 4).map { p =>
      val dot = v.zipWithIndex.map { case (x, i) =>
        x.toDouble * Similarity.planeComponent(p, i) }.sum
      if (dot >= 0) 1L << p else 0L
    }.sum
    val evKey = key(axis)
    val near = (for {
      j <- (1 to 7).iterator
      k <- (1 to 200).iterator
    } yield axis.zipWithIndex.map { case (x, i) =>
      if (i == j) x + k * 0.1f else x })
      .find(v => java.lang.Long.bitCount(key(v) ^ evKey) == 1)
    near.foreach { nv =>
      val tr2 = Seq((7L, nv)).toDF("vec_id", "embedding")
      val single = Dedup.semanticDecontaminate(tr2, ev,
          minCosine = 0.5, planes = 4, dim = 8)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(single == Seq(7L), s"single-probe should miss: $single")
      val multi = Dedup.semanticDecontaminate(tr2, ev,
          minCosine = 0.5, planes = 4, dim = 8, multiProbe = true)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(multi.isEmpty, s"multi-probe should drop: $multi")
    }
    assert(near.nonEmpty, "no one-bit neighbor found in the sweep")
  }

  test("bigramNllRef: closed-form add-one scores under a held-out " +
    "reference LM, unseen pairs and unseen heads fall back exactly, " +
    "evidence-free docs absent") {
    import graft.text.TextOps
    // reference: "a b" x2, "a c" → uni a:3 b:2... wait: tokens
    // a,b,a,b,a,c → c1(a)=3, c1(b)=2, c1(c)=1; V=3.
    // bigrams: (a,b):2, (a,c):1
    val ref = Seq("a b", "a b", "a c").toDF("text")
    val lm = TextOps.bigramLmTrain(ref)
    assert(lm.vocabSize == 3L)
    def snap(x: Double): Double =
      math.floor(math.log(x) * 1048576.0 + 0.5) / 1048576.0
    // scored: doc 1 "a b" → seen pair: (2+1)/(3+3) = 0.5
    //         doc 2 "a z" → unseen pair, seen head: 1/(3+3)
    //         doc 3 "z a" → unseen head: 1/(0+3)
    //         doc 4 "b"   → one token, no evidence → absent
    val docs = Seq((1L, "a b"), (2L, "a z"), (3L, "z a"), (4L, "b"))
      .toDF("doc_id", "text")
    val got = TextOps.bigramNllRef(docs, lm).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got == Seq((1L, 1L, -snap(3.0 / 6.0)),
      (2L, 1L, -snap(1.0 / 6.0)), (3L, 1L, -snap(1.0 / 3.0))),
      s"got $got")
    // multi-bigram doc: the mean of its snapped terms
    val multi = TextOps.bigramNllRef(
      Seq((9L, "a b a z")).toDF("doc_id", "text"), lm).head()
    assert(multi.getLong(1) == 3L)
    // (a,b): 3/6; (b,a): unseen pair, head b → (0+1)/(2+3); (a,z): 1/6
    val want = -(snap(3.0 / 6.0) + snap(1.0 / 5.0) +
      snap(1.0 / 6.0)) / 3.0
    assert(multi.getDouble(2) == want, s"got ${multi.getDouble(2)}")
    // garbled text scores strictly worse than in-register text
    assert(got(1)._3 > got(0)._3 && got(2)._3 > got(0)._3)
  }

  test("kneserNeyNll: closed-form KN probabilities, continuation " +
    "backoff, full-vocab normalization, single-token docs drop out") {
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "b a"), (4L, "x"))
      .toDF("doc_id", "text")
    val got = TextOps.kneserNeyNll(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // bigram types (a,b),(a,c),(b,a) each once; |types|=3.
    // context a: c=2, N1+=2 → P(b|a)=P(c|a)=(1−.75)/2+.75·2/2·(1/3)=0.375
    // context b: c=1, N1+=1 → P(a|b)=(1−.75)/1+.75·1/1·(1/3)=0.5
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq((1L, 1L, r6(-math.log(0.375))),
      (2L, 1L, r6(-math.log(0.375))), (3L, 1L, r6(-math.log(0.5)))))
    // KN is properly normalized: over the full vocab {a,b,c},
    // Σ P(w|a) = P(b|a) + P(c|a) + backoff-only P(a|a)
    //          = 0.375 + 0.375 + 0.75·(2/2)·(1/3) = 1 exactly
    assert(0.375 + 0.375 + 0.75 * (2.0 / 2.0) * (1.0 / 3.0) == 1.0)
  }

  test("temperatureRates: τ=0.5 flattens the mix, τ=1 is identity, " +
    "cap at 1, arbitrary τ rejected") {
    val docs = (1L to 4L).map(i => (i, "en")) :+ ((5L, "fr"))
    val df = docs.toDF("doc_id", "lang")
    val r = TextOps.temperatureRates(df, targetTotal = 3, tau = 0.5,
      stratumCol = "lang").collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    // p = (0.8, 0.2); w = sqrt p; fold in stratum order (en, fr)
    val wEn = math.sqrt(4.0 / 5.0); val wFr = math.sqrt(1.0 / 5.0)
    val denom = 0.0 + wEn + wFr
    def ppm(w: Double, n: Long) =
      math.floor(math.min(1.0, w / denom * 3.0 / n) * 1000000L).toLong
    assert(r("en") == (4L, ppm(wEn, 4)) && r("fr") == (1L, ppm(wFr, 1)))
    // τ=0.5 up-weights the tail: fr's keep-rate > en's
    assert(r("fr")._2 > r("en")._2)
    // τ=1 identity mix: equal keep-rates (t_i ∝ n_i)
    val r1 = TextOps.temperatureRates(df, targetTotal = 3, tau = 1.0,
      stratumCol = "lang").collect()
      .map(x => x.getString(0) -> x.getLong(2)).toMap
    assert(r1("en") == r1("fr"))
    // target beyond the corpus: every rate caps at 1e6 (no upsampling)
    val rCap = TextOps.temperatureRates(df, targetTotal = 100, tau = 0.5,
      stratumCol = "lang").collect().map(_.getLong(2))
    assert(rCap.forall(_ == 1000000L))
    intercept[IllegalArgumentException] {
      TextOps.temperatureRates(df, targetTotal = 3, tau = 0.3)
    }
  }

  test("bestOfN: argmax/argmin with opposed tie rules, null scores " +
    "count but never win, sub-minimum prompts dropped") {
    val samples = Seq(
      (10L, 1L, "s1", Some(0.5)), (10L, 2L, "s2", Some(0.9)),
      (10L, 3L, "s3", Some(0.1)), // clean: s2 beats s3, margin 0.8
      (20L, 4L, "t4", Some(0.7)), (20L, 5L, "t5", Some(0.7)), // all tied
      (30L, 6L, "u6", Some(0.3)), (30L, 7L, "u7", None), // 1 scored
      (40L, 8L, "v8", None) // 0 scored
    ).toDF("prompt_id", "sample_id", "sample", "score")
      .withColumn("score", col("score").cast("double"))
    val got = ops.Chat.bestOfN(samples).orderBy("prompt_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getString(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      (10L, 3L, 3L, "s2", "s3", 0.8),
      // all-tied prompt: chosen = lowest id, rejected = highest id —
      // two DISTINCT samples, margin 0
      (20L, 2L, 2L, "t4", "t5", 0.0)))
    // prompts 30 (1 scored) and 40 (0 scored) are dropped entirely
    assert(!got.map(_._1).contains(30L) && !got.map(_._1).contains(40L))
    // null scores still count in n_samples: prompt 30 via minSamples=2
    // is gone even though it HAS 2 samples — only scored ones qualify
    intercept[IllegalArgumentException] {
      ops.Chat.bestOfN(samples, minSamples = 1)
    }
  }

  test("bradleyTerry: fixed-round MM with opponent-ordered folds, " +
    "zero-win models floor at 0, self-matches and nulls excluded") {
    val matches = Seq(
      ("A", "C", "A"), ("B", "C", "B"), ("A", "B", "A"),
      ("A", "A", "A"), // self-match: excluded
      (null.asInstanceOf[String], "B", "B") // null side: excluded
    ).toDF("model_a", "model_b", "winner")
    val got = ops.Chat.bradleyTerry(matches, iterations = 2)
      .orderBy("model").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // round 1 (flat start): dA = 1/2 + 1/2 = 1 -> rA = 2; rB = 1; rC = 0
    // round 2, folds in opponent order:
    //   dA = (0 + 1/(2+1)) + 1/(2+0); rA = 2/dA
    //   dB = (0 + 1/(1+2)) + 1/(1+0); rB = 1/dB
    //   C never wins -> 0
    val dA = 0.0 + 1.0 / (2.0 + 1.0) + 1.0 / (2.0 + 0.0)
    val dB = 0.0 + 1.0 / (1.0 + 2.0) + 1.0 / (1.0 + 0.0)
    assert(got.toSeq == Seq(
      ("A", 2L, 2L, 2.0 / dA), ("B", 2L, 1L, 1.0 / dB), ("C", 2L, 0L, 0.0)))
    intercept[IllegalArgumentException] {
      ops.Chat.bradleyTerry(matches, iterations = 9)
    }
  }

  test("mbrSelect: consensus argmax of summed unigram F1, ties to " +
    "lowest id, no-overlap and singleton candidates score 0") {
    val samples = Seq(
      (1L, 1L, "a b c"), (1L, 2L, "a b d"), (1L, 3L, "x y"),
      (2L, 4L, "hello"), (2L, 5L, ""),
      (3L, 6L, null.asInstanceOf[String]) // null: excluded entirely
    ).toDF("prompt_id", "sample_id", "sample")
    val got = ops.Chat.mbrSelect(samples)
      .orderBy("prompt_id", "sample_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4)))
    val f12 = 4.0 / 6.0 // 2*overlap(s1,s2) / (3+3)
    assert(got.toSeq == Seq(
      (1L, 1L, 3L, f12, 1), // tied with s2 on utility: lowest id wins
      (1L, 2L, 3L, f12, 0),
      (1L, 3L, 2L, 0.0, 0), // zero overlap with both siblings
      (2L, 4L, 1L, 0.0, 1), // singleton-vs-empty: lower id selected
      (2L, 5L, 0L, 0.0, 0))) // empty string: zero tokens, kept as a row
  }

  test("prefixCacheStats: case-folded k-token groups, short prompts " +
    "group by full text, singleton groups save nothing") {
    val prompts = Seq(
      (1L, "A B C x"), (2L, "a b c y z"), // shared 3-token prefix
      (3L, "a b"), // shorter than k: its own full-text group
      (4L, "q r s"), // exactly k tokens, singleton
      (5L, null.asInstanceOf[String]) // excluded
    ).toDF("doc_id", "text")
    val got = TextOps.prefixCacheStats(prompts, k = 3)
      .orderBy(col("total_tokens").desc).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (2L, 3L, 9L, 3L), // two siblings: one 3-token prefill saved
      (1L, 3L, 3L, 0L), // "q r s"
      (1L, 2L, 2L, 0L))) // "a b": prefix_tokens = its own 2 tokens
    // digests are distinct across the three groups
    val digs = TextOps.prefixCacheStats(prompts, k = 3)
      .select("prefix_digest").collect().map(_.getString(0))
    assert(digs.distinct.length == 3)
  }

  test("isotonicCalibration: minimax fit equals hand-run PAV, " +
    "monotone output, nulls excluded") {
    val scored = Seq(
      (0.1, 1L), (0.1, 1L), // bin 0: raw 1.0
      (0.3, 0L), (0.3, 0L), // bin 1: raw 0.0 — violates, pools with bin 0
      (0.6, 1L), (0.6, 1L) // bin 2: raw 1.0
    ).toDF("prob", "label")
      .union(Seq((null.asInstanceOf[java.lang.Double], 1L))
        .toDF("prob", "label")) // null prob: excluded
    val got = TextOps.isotonicCalibration(scored, nBins = 4)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    // PAV on (1.0, 0.0, 1.0) with equal weights: pool bins 0-1 to 0.5
    assert(got.toSeq == Seq(
      (0L, 2L, 2L, 1.0, 0.5), (1L, 2L, 0L, 0.0, 0.5),
      (2L, 2L, 2L, 1.0, 1.0)))
    // calibrated is non-decreasing in bin
    assert(got.map(_._5).sliding(2).forall(p => p(0) <= p(1)))
    intercept[IllegalArgumentException] {
      TextOps.isotonicCalibration(scored, nBins = 1)
    }
  }

  test("looAttribution: removing the token-supplying source hurts, " +
    "removing a diluting source helps, LOO counts are exact") {
    val train = Seq((1L, "A", "a a"), (2L, "B", "b"))
      .toDF("doc_id", "source", "text")
    val eval = Seq((3L, "E", "a")).toDF("doc_id", "source", "text")
    val got = TextOps.looAttribution(train, eval)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    // N=3, V=2; base p(a) = (2+1)/(3+2); LOO A: (2-2+1)/(3-2+2)=1/3;
    // LOO B: (2-0+1)/(3-1+2)=3/4 — all snapped to the 2^-20 grid
    assert(got.map(x => (x._1, x._2)).toSeq == Seq(("A", 2L), ("B", 1L)))
    assert(math.abs(got(0)._4 - -math.log(1.0 / 3.0)) < 1e-5)
    assert(math.abs(got(1)._4 - -math.log(0.75)) < 1e-5)
    assert(math.abs(got(0)._3 - -math.log(0.6)) < 1e-5)
    // A supplies the eval token: delta > 0; B only dilutes: delta < 0
    assert(got(0)._5 > 0 && got(1)._5 < 0)
  }

  test("bitextMine: margin demotes hub-adjacent pairs, mutual flags " +
    "require both directions' best, power-of-two k enforced") {
    // basis chosen in plane 0's non-negative half-space so every vector
    // lands in the same 1-plane bucket (e2 projects to exactly 0)
    val w0 = Similarity.planeComponent(0, 0)
    val w1 = Similarity.planeComponent(0, 1)
    def v(c1: Double, c2: Double): Seq[Double] =
      Seq(c1 * w0 + c2 * -w1, c1 * w1 + c2 * w0)
    val a = Seq((1L, v(1, 0)), (2L, v(0, 1)), (3L, v(0.6, 0.8)))
      .toDF("vec_id", "embedding")
    val b = Seq((10L, v(2, 0)), (11L, v(0.6, 0.8)))
      .toDF("vec_id", "embedding")
    val got = Similarity.bitextMine(a, b, k = 1, planes = 1, dim = 2)
      .orderBy("a_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getInt(4)))
    assert(got.map(x => (x._1, x._2, x._5)).toSeq ==
      Seq((1L, 10L, 1), (2L, 11L, 0), (3L, 11L, 1)))
    // a1-b1: cos 1, both avgs 1/2 -> margin 1; a2's best b2 has cos 0.8
    // but b2's own best is its twin a3 -> not mutual, margin 0.8/0.9
    assert(math.abs(got(0)._4 - 1.0) < 1e-9)
    assert(math.abs(got(1)._3 - 0.8) < 1e-9)
    assert(math.abs(got(1)._4 - 0.8 / 0.9) < 1e-9)
    assert(math.abs(got(2)._4 - 1.0) < 1e-9)
    intercept[IllegalArgumentException] {
      Similarity.bitextMine(a, b, k = 3, planes = 1, dim = 2)
    }
    spark.catalog.clearCache()
  }

  test("retrievalEval: hand-computed recall/MRR/nDCG@k, no-rel queries " +
    "report NULL recall and zero MRR, run rows past k ignored") {
    def disc(i: Int): Double = 1.0 / (math.log(i + 1.0) / math.log(2.0))
    val run = Seq(
      (1L, 100L, 1), (1L, 102L, 2), (1L, 101L, 3), (1L, 103L, 4), // rk4>k
      (2L, 200L, 1)
    ).toDF("query_id", "doc_id", "rank")
    val qrels = Seq(
      (1L, 100L, 2), (1L, 101L, 1), (1L, 102L, 0), (1L, 103L, 1),
      (2L, 200L, 0)
    ).toDF("query_id", "doc_id", "rel")
    val got = TextOps.retrievalEval(run, qrels, k = 3)
      .orderBy("query_id").collect()
    // q1: hits at ranks 1 (rel 2) and 3 (rel 1) of n_rel=3 (103 at
    // rank 4 is past k); dcg = 3·d1 + 1·d3, ideal gains (2,1,1)
    val dcg = 0.0 + 3.0 * disc(1) + 1.0 * disc(3)
    val idcg = 0.0 + 3.0 * disc(1) + 1.0 * disc(2) + 1.0 * disc(3)
    val r1 = got(0)
    assert(r1.getLong(1) == 3L && r1.getLong(2) == 2L)
    assert(r1.getDouble(3) == 2.0 / 3.0 && r1.getDouble(4) == 1.0)
    assert(math.abs(r1.getDouble(5) - dcg) < 1e-12)
    assert(math.abs(r1.getDouble(6) - dcg / idcg) < 1e-12)
    // q2: no positive qrels
    val r2 = got(1)
    assert(r2.getLong(1) == 0L && r2.isNullAt(3) &&
      r2.getDouble(4) == 0.0 && r2.getDouble(5) == 0.0 && r2.isNullAt(6))
  }

  test("confidentLearning: over-threshold cross-class confidences land " +
    "off-diagonal, thresholds are grid-snapped class means") {
    def g(x: Double): Double = math.floor(x * 4096.0 + 0.5) / 4096.0
    val scored = Seq(
      (0.9, 1), (0.7, 1), (0.3, 1), // one low-confidence positive
      (0.2, 0), (0.4, 0), (0.9, 0) // one confidently-positive negative
    ).toDF("prob", "label")
      .union(Seq((null.asInstanceOf[java.lang.Double], 1))
        .toDF("prob", "label"))
    val got = TextOps.confidentLearning(scored)
      .orderBy("noisy_label", "est_true").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(4), r.getInt(5)))
    // t1 = mean snapped p of labeled-1 ~0.633, t0 ~0.5: the 0.9-prob
    // negative crosses t1, the 0.3-prob positive crosses t0
    assert(got.toSeq == Seq(
      (0, 0, 2L, 0), (0, 1, 1L, 1), (1, 0, 1L, 1), (1, 1, 2L, 0)))
    val t1 = (g(0.9) + g(0.7) + g(0.3)) / 3.0
    val t0 = ((1.0 - g(0.2)) + (1.0 - g(0.4)) + (1.0 - g(0.9))) / 3.0
    val r0 = TextOps.confidentLearning(scored).orderBy("noisy_label",
      "est_true").head()
    assert(r0.getDouble(2) == t0 && r0.getDouble(3) == t1)
  }

  test("fleissKappa: hand-computed multi-rater kappa, partial panels " +
    "dropped and counted, m guard") {
    val rated = Seq(
      (1L, 0, "a"), (1L, 1, "a"), // full agreement
      (2L, 0, "a"), (2L, 1, "b"), // split
      (3L, 0, "b"), (3L, 1, "b"), // full agreement
      (4L, 0, "a") // partial panel: dropped
    ).toDF("item", "rater", "lab")
    val r = Quality.fleissKappa(rated, "item", "rater", "lab", m = 2).head()
    // N=3 m=2: P-bar = (2+0+2)/(3*2*1); c_a=c_b=3 -> P_e = 18/36
    val pBar = 4.0 / 6.0
    val pE = 18.0 / 36.0
    assert(r.getLong(0) == 3L && r.getLong(1) == 1L)
    assert(r.getDouble(2) == pBar && r.getDouble(3) == pE)
    assert(r.getDouble(4) == (pBar - pE) / (1.0 - pE))
    intercept[IllegalArgumentException] {
      Quality.fleissKappa(rated, "item", "rater", "lab", m = 1)
    }
  }

  test("deletedInterpolationRound: hand-computed responsibility EM, " +
    "zero-evidence tokens excluded, unigram-only tokens pull lambda down") {
    val train = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val ho = Seq((2L, "a b z c")).toDF("doc_id", "text")
    val r = TextOps.deletedInterpolationRound(train, ho).head()
    // held-out bigrams: "a b" (p2=2/3, p1=1/3 -> e=snap(2/3)),
    // "b z" (both zero: excluded), "z c" (p2=0, p1=1/6 -> e=0)
    val e = math.floor(0.5 * (2.0 / 3.0) /
      (0.5 * (2.0 / 3.0) + 0.5 * (1.0 / 3.0)) * 1048576.0 + 0.5) / 1048576.0
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 0.5 && r.getDouble(3) == e / 2.0)
    intercept[IllegalArgumentException] {
      TextOps.deletedInterpolationRound(train, ho, lambda0 = 1.0)
    }
  }

  test("winRateWilson: exact Wilson algebra per model, invalid winners " +
    "and self-matches excluded") {
    val matches = Seq(
      ("A", "B", "A"), ("A", "B", "A"), ("A", "B", "B"),
      ("A", "B", "X"), // winner not a participant: excluded
      ("A", "A", "A") // self-match: excluded
    ).toDF("model_a", "model_b", "winner")
    val got = ops.Chat.winRateWilson(matches).orderBy("model").collect()
    def wilson(w: Long, n: Long): (Double, Double) = {
      val z = 1.96; val z2 = z * z
      val p = w.toDouble / n.toDouble; val nd = n.toDouble
      val denom = 1.0 + z2 / nd
      val center = (p + z2 / (nd * 2.0)) / denom
      val half = (z * math.sqrt(p * (1.0 - p) / nd +
        z2 / (nd * nd * 4.0))) / denom
      (center - half, center + half)
    }
    val (loA, hiA) = wilson(2, 3)
    assert(got(0).getString(0) == "A" && got(0).getLong(1) == 3L &&
      got(0).getLong(2) == 2L)
    assert(got(0).getDouble(4) == loA && got(0).getDouble(5) == hiA)
    val (loB, hiB) = wilson(1, 3)
    assert(got(1).getDouble(4) == loB && got(1).getDouble(5) == hiB)
    // the CI overlaps even though point rates are 2/3 vs 1/3
    assert(loA < hiB)
  }

  test("passAtK: product-form estimator, zero factor collapses to 1, " +
    "n < k reports NULL") {
    val samples = Seq(
      (1L, 1), (1L, 1), (1L, 0), (1L, 0), (1L, 0), // n=5 c=2
      (2L, 0), (2L, 0), (2L, 0) // n=3 c=0
    ).toDF("prompt_id", "passed")
    val got = ops.Chat.passAtK(samples, ks = Seq(1, 5))
      .orderBy("prompt_id").collect()
    assert(got(0).getLong(1) == 5L && got(0).getLong(2) == 2L)
    assert(got(0).getDouble(3) == 1.0 - 3.0 / 5.0)
    assert(got(0).getDouble(4) == 1.0) // c > n-k: some window passes
    assert(got(1).getDouble(3) == 0.0) // no passes
    assert(got(1).isNullAt(4)) // n=3 < k=5
    intercept[IllegalArgumentException] {
      ops.Chat.passAtK(samples, ks = Seq(0))
    }
  }

  test("chrF: perfect pairs score 1, transposition halves the mean, " +
    "whitespace/case fold, empty hyp reports zero levels") {
    val pairs = Seq(
      (1L, "ab", "ab"), // identical: chrF 1
      (2L, "ab", "ba"), // n=1 perfect, n=2 disjoint: P=R=0.5 -> F2=0.5
      (3L, "A B", "ab"), // normalization: identical after fold
      (4L, "ab", "") // no hyp grams at any level
    ).toDF("pair_id", "ref", "hyp")
    val got = TextOps.chrF(pairs, maxN = 2).orderBy("pair_id").collect()
    assert(got(0).getLong(1) == 2L && got(0).getDouble(4) == 1.0)
    assert(got(1).getDouble(2) == 0.5 && got(1).getDouble(3) == 0.5 &&
      got(1).getDouble(4) == 0.5)
    assert(got(2).getDouble(4) == 1.0)
    assert(got(3).getLong(1) == 0L && got(3).isNullAt(4))
  }

  test("BLEU kernel stats: clipped matches (the 'the the the the' " +
    "case), per-level totals, empty sides") {
    val got = Seq(
      ("the cat sat on the mat", "the the the the"),
      ("", "a"))
      .toDF("ref", "hyp")
      .select(graft.functions.VectorExpressions
        .bleuStats(col("ref"), col("hyp"), 4).as("st"))
      .collect()
    def lv(r: org.apache.spark.sql.Row, n: Int): (Long, Long, Long) = {
      val s = r.getSeq[org.apache.spark.sql.Row](0)(n - 1)
      (s.getLong(1), s.getLong(2), s.getLong(3))
    }
    // ref has 'the' twice → 4 hyp 'the's clip to 2; no bigram overlap
    assert(lv(got(0), 1) == ((2L, 6L, 4L)), s"got ${lv(got(0), 1)}")
    assert(lv(got(0), 2) == ((0L, 5L, 3L)))
    assert(lv(got(0), 3) == ((0L, 4L, 2L)))
    assert(lv(got(0), 4) == ((0L, 3L, 1L)))
    // empty ref: zero totals on the ref side, hyp totals still count
    assert(lv(got(1), 1) == ((0L, 0L, 1L)))
    assert(lv(got(1), 4) == ((0L, 0L, 0L)))
  }

  test("sentenceBleu: self-pair scores exactly 1, brevity penalty " +
    "exp(1 - r/c) on a short hyp, any zero level zeroes bleu, a " +
    "<maxN-token hyp zeroes bleu (the unsmoothed form)") {
    val pairs = Seq(
      (1L, "a b c d e", "a b c d e"),
      (2L, "a b c d e", "a b c d"),
      (3L, "a b c d e", "x y z w v"),
      (4L, "a b", "a b")).toDF("pair_id", "ref", "hyp")
    val got = TextOps.sentenceBleu(pairs).orderBy("pair_id").collect()
    def f(i: Int, c: String): Double =
      got(i).getDouble(got(i).fieldIndex(c))
    assert(f(0, "geo_mean") == 1.0 && f(0, "bp_log") == 0.0 &&
      f(0, "bleu") == 1.0)
    // hyp 4 of 5 words: every precision 1, BP = exp(1 - 5/4)
    assert(f(1, "geo_mean") == 1.0 && f(1, "bp_log") == 1.0 - 5.0 / 4.0)
    assert(math.abs(f(1, "bleu") - math.exp(-0.25)) < 1e-15,
      s"got ${f(1, "bleu")}")
    assert(f(2, "geo_mean") == 0.0 && f(2, "bleu") == 0.0)
    // 2-token hyp: h_3 = h_4 = 0 → o zero levels → bleu 0
    assert(f(3, "geo_mean") == 0.0 && f(3, "bleu") == 0.0 &&
      got(3).isNullAt(got(3).fieldIndex("p_3")))
  }

  test("corpusBleu: matches and totals summed BEFORE the divisions " +
    "(never an average of sentence BLEUs), BP from summed lengths") {
    val pairs = Seq(
      (1L, "a b c d e", "a b c d e"),
      (2L, "a b c d e", "a b c d")).toDF("pair_id", "ref", "hyp")
    val got = TextOps.corpusBleu(pairs).head()
    def f(c: String): Double = got.getDouble(got.fieldIndex(c))
    def l(c: String): Long = got.getLong(got.fieldIndex(c))
    assert(l("ref_len") == 10L && l("hyp_len") == 9L)
    assert(l("o_1") == 9L && l("h_1") == 9L && l("o_4") == 3L &&
      l("h_4") == 3L)
    assert(f("p_1") == 1.0 && f("p_4") == 1.0 && f("geo_mean") == 1.0)
    assert(f("bp_log") == 1.0 - 10.0 / 9.0)
    assert(math.abs(f("bleu") - math.exp(1.0 - 10.0 / 9.0)) < 1e-15)
    // long-form stats: 4 rows per pair, p_n null when the hyp has no
    // n-grams
    val stats = TextOps.bleuNgramStats(pairs).orderBy("pair_id", "n")
      .collect()
    assert(stats.length == 8)
    assert(stats.forall(r => r.getLong(2) <= r.getLong(4) ||
      r.getLong(4) == 0))
  }

  test("poolDivergence: hand-computed smoothed KLs, identical pools " +
    "diverge zero, empty clusters survive smoothing") {
    def snap(x: Double): Double =
      math.floor(math.log(x) * 1048576.0 + 0.5) / 1048576.0
    val cents = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
    val a = Seq((10L, Seq(1.0, 0.0)), (11L, Seq(1.0, 0.1)),
      (12L, Seq(0.9, 0.0))).toDF("vec_id", "embedding")
    val b = Seq((20L, Seq(0.0, 1.0)), (21L, Seq(0.1, 1.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.poolDivergence(a, b, cents, dim = 2)
      .orderBy("cluster").collect()
    // histograms: A = (3, 0), B = (0, 2); smoothed pa = (4/5, 1/5),
    // pb = (1/4, 3/4)
    val pa = Seq(4.0 / 5.0, 1.0 / 5.0); val pb = Seq(1.0 / 4.0, 3.0 / 4.0)
    val tAb = Seq(pa(0) * snap(pa(0) / pb(0)), pa(1) * snap(pa(1) / pb(1)))
    val tBa = Seq(pb(0) * snap(pb(0) / pa(0)), pb(1) * snap(pb(1) / pa(1)))
    assert(got(0).getLong(1) == 3L && got(0).getLong(2) == 0L)
    assert(got(0).getDouble(3) == pa(0) && got(0).getDouble(4) == pb(0))
    assert(got(0).getDouble(5) == tAb(0) && got(1).getDouble(6) == tBa(1))
    val klAb = 0.0 + tAb(0) + tAb(1); val klBa = 0.0 + tBa(0) + tBa(1)
    assert(got(0).getDouble(7) == klAb && got(0).getDouble(8) == klBa)
    assert(got(0).getDouble(9) == klAb + klBa && klAb + klBa > 0)
    // identical pools: every term is ln(1) = 0
    val same = Similarity.poolDivergence(a, a, cents, dim = 2).collect()
    assert(same.forall(_.getDouble(9) == 0.0))
  }

  test("instructionChecks: per-rule verdicts, NULL constraints vacuous, " +
    "NULL response fails active checks only") {
    val rows = Seq(
      // passes everything: 4 words, has "quick", no "bad", ends "."
      (1L, "the quick brown fox.", Some(3L), Some("quick"), Some("bad"),
        Some(".")),
      // word floor misses; keyword case-folds; trailing space ignored
      (2L, "Too Short. ", Some(5L), Some("short"), None, Some(".")),
      // all constraints NULL: vacuous full pass
      (3L, "anything", None, None, None, None),
      // NULL response: fails the active checks, passes the vacuous one
      (4L, null.asInstanceOf[String], Some(1L), Some("x"), None, None)
    ).toDF("pair_id", "response", "min_words", "keyword", "forbidden",
      "must_end_with")
    val got = ops.Chat.instructionChecks(rows).orderBy("pair_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getInt(6)))
    assert(got.toSeq == Seq(
      (1L, 4L, 1, 1, 1, 1, 1),
      (2L, 2L, 0, 1, 1, 1, 0),
      (3L, 1L, 1, 1, 1, 1, 1),
      (4L, 0L, 0, 0, 1, 1, 0)))
  }

  test("extractiveFragments: per-position max match lengths, verbatim " +
    "lift vs abstractive vs partial, repeated-token articles") {
    val art = "the quick brown fox jumps over the lazy dog"
    val pairs = Seq(
      (1L, art, "quick brown fox"), // pure lift: bl = 3,2,1
      (2L, art, "purple elephant"), // fully novel
      (3L, art, "fox goes the"), // 1, 0, 1
      (4L, "a a b", "a b") // best start wins: bl(1) = 2 via the 2nd 'a'
    ).toDF("pair_id", "article", "summary")
    val got = TextOps.extractiveFragments(pairs)
      .orderBy("pair_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      (1L, 3L, 3L, 3, 1.0, 14.0 / 3.0),
      (2L, 2L, 0L, 0, 0.0, 0.0),
      (3L, 3L, 2L, 1, 2.0 / 3.0, 2.0 / 3.0),
      (4L, 2L, 2L, 2, 1.0, 5.0 / 2.0)))
  }

  test("selfConsistency: surface variants pool, ties break " +
    "lexicographically, abstentions count but never win") {
    val samples = Seq(
      (1L, "Yes"), (1L, " yes "), (1L, "no"), // variants pool: yes wins
      (2L, "a"), (2L, "b"), // tie: lexicographically smallest
      (3L, null.asInstanceOf[String]), (3L, "x"), (3L, null), // x wins 1/3
      (4L, null.asInstanceOf[String]) // all abstain
    ).toDF("prompt_id", "answer")
    val got = ops.Chat.selfConsistency(samples)
      .orderBy("prompt_id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4), r.getInt(5)))
    assert(got.toSeq == Seq(
      (1L, 3L, "yes", 2L, 2.0 / 3.0, 0),
      (2L, 2L, "a", 1L, 0.5, 0),
      (3L, 3L, "x", 1L, 1.0 / 3.0, 0),
      (4L, 1L, null, 0L, 0.0, 0)))
  }

  test("structuredOutputRate: valid objects extract, truncated JSON / " +
    "prose / missing field fail, distinct values counted") {
    val rows = Seq(
      ("m1", """{"answer": "yes"}"""), ("m1", """{"answer": "no"}"""),
      ("m1", """{"answer": "yes" """), // truncated: fail
      ("m1", "plain prose"), // fail
      ("m2", """{"answer": 42}"""), // numeric field extracts as "42"
      ("m2", """{"other": 1}""") // valid JSON, field missing: fail
    ).toDF("source", "text")
    val got = TextOps.structuredOutputRate(rows).orderBy("source").collect()
    assert(got(0).getLong(1) == 4L && got(0).getLong(2) == 2L &&
      got(0).getLong(3) == 2L && got(0).getDouble(4) == 0.5)
    assert(got(1).getLong(2) == 1L && got(1).getDouble(4) == 0.5)
  }

  test("arenaLeaderboard: BT ratings and Wilson intervals joined, " +
    "ranked by rating with name tie-break") {
    val matches = Seq(
      ("A", "C", "A"), ("B", "C", "B"), ("A", "B", "A")
    ).toDF("model_a", "model_b", "winner")
    val got = ops.Chat.arenaLeaderboard(matches)
      .orderBy("arena_rank").collect()
    // rating order from the bradleyTerry spec trace: A > B > C
    assert(got.map(_.getString(0)).toSeq == Seq("A", "B", "C"))
    assert(got.map(r => r.getInt(r.length - 1)).toSeq == Seq(1, 2, 3))
    // the Wilson columns ride along: C lost everything
    val c = got(2)
    // lo ~ 0 up to the sqrt(fl(z**2)) ulp; hi stays well under 1
    assert(c.getAs[Double]("win_rate") == 0.0 &&
      math.abs(c.getAs[Double]("wilson_lo")) < 1e-12 &&
      c.getAs[Double]("wilson_hi") < 0.9)
  }

  test("cohenKappa: hand-computed kappa, pe=1 degenerate NULLs, " +
    "disjoint label sets keep the group, nulls excluded") {
    val rows = Seq(
      ("g1", "0", "0"), ("g1", "1", "1"), ("g1", "0", "1"),
      ("g1", "1", "0"), ("g1", "0", "0"), // n=5 agree=3 S=13 -> k=1/6
      ("g2", "x", "x"), ("g2", "x", "x"), // both constant: pe=1 -> NULL
      ("g3", "x", "y"), ("g3", "x", "y"), // disjoint: S=0 -> k=0
      ("g1", "0", null.asInstanceOf[String]) // unrated: excluded
    ).toDF("g", "a", "b")
    val got = Quality.cohenKappa(rows, "a", "b", Seq("g"))
      .orderBy("g").collect()
    assert(got(0).getLong(1) == 5L && got(0).getLong(2) == 3L)
    assert(got(0).getDouble(3) == 0.6 && got(0).getDouble(4) == 0.52)
    assert(got(0).getDouble(5) == (5.0 * 3.0 - 13.0) / (25.0 - 13.0))
    assert(got(1).getDouble(4) == 1.0 && got(1).isNullAt(5))
    assert(got(2).getDouble(4) == 0.0 && got(2).getDouble(5) == 0.0)
    // global mode: one row, no group column
    val g = Quality.cohenKappa(rows, "a", "b").collect()
    assert(g.length == 1 && g(0).getLong(0) == 9L)
  }

  test("lossMaskSpans: spans substring the rendered string back to the " +
    "turn contents, assistant-only train flags, null content is empty") {
    val turns = Seq((1L, Seq(("user", "hi there"), ("assistant", "hello"),
      ("user", "more?"), ("assistant", "sure thing"))),
      (2L, Seq(("system", "be brief"), ("assistant",
        null.asInstanceOf[String])))).toDF("doc_id", "raw")
      .select(col("doc_id"), expr(
        "transform(raw, x -> struct(x._1 AS role, x._2 AS content))")
        .as("turns"))
    val rendered = turns.select(col("doc_id"),
      ops.Chat.renderTemplate(col("turns")).as("r")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rendered(1L) == "<|user|>hi there<|assistant|>hello" +
      "<|user|>more?<|assistant|>sure thing")
    val got = ops.Chat.lossMaskSpans(turns).orderBy("doc_id", "turn")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getInt(5)))
    // doc 2's null-content turn is DROPPED from the render — its span
    // must be zero-length at the drop point, not tag-offset past the end
    assert(rendered(2L) == "<|system|>be brief")
    // every span substrings the rendered string back to its content
    val contents = Map((1L, 0) -> "hi there", (1L, 1) -> "hello",
      (1L, 2) -> "more?", (1L, 3) -> "sure thing",
      (2L, 0) -> "be brief", (2L, 1) -> "")
    got.foreach { case (id, turn, role, s, e, train) =>
      assert(rendered(id).substring(s.toInt, e.toInt) ==
        contents((id, turn)))
      assert(train == (if (role == "assistant") 1 else 0))
    }
    // masking by spans trains on exactly the assistant characters
    val trainChars = got.filter(_._6 == 1).map(t => t._5 - t._4).sum
    assert(trainChars == "hello".length + "sure thing".length)
    assert(got.length == 6)
  }

  test("preferenceAudit: degenerate via normalization, mutual " +
    "contradiction, exact-dup ownership, prompt dup counts") {
    val pairs = Seq(
      (1L, "p1", "A good answer", "B worse answer"), // clean, first owner
      (2L, "p1", "B worse answer", "A good answer"), // contradicts 1
      (3L, "p2", "C", "C"), // degenerate, exact
      (4L, "p1", "A good answer", "B worse answer"), // exact dup of 1
      (5L, "p3", "Hello World", "hello   world"), // degenerate after norm
      (6L, "p4", "X", "Y") // clean singleton
    ).toDF("pair_id", "prompt", "chosen", "rejected")
    val got = ops.Chat.preferenceAudit(pairs).orderBy("pair_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getInt(4)))
    assert(got.toSeq == Seq(
      (1L, 0, 1, 3L, 0), // contradicted by 2 (keep=0 despite first)
      (2L, 0, 1, 3L, 0), // contradiction is mutual
      (3L, 1, 0, 1L, 0), // degenerate never contradicts itself
      (4L, 0, 1, 3L, 0), // dup of 1: not first owner AND contradicted
      (5L, 1, 0, 1L, 0), // lower+whitespace collapse finds it
      (6L, 0, 0, 1L, 1))) // the only trainable pair
    // without the flipped pair, 1 and 4 become keepable (first only)
    val noFlip = ops.Chat.preferenceAudit(pairs.filter($"pair_id" =!= 2L))
      .orderBy("pair_id").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getInt(4)))
    assert(noFlip.toSeq == Seq((1L, 0, 1), (3L, 0, 0), (4L, 0, 0),
      (5L, 0, 0), (6L, 0, 1)))
  }

  test("fimTransform: PSM reassembles to the original, rate gate " +
    "respects md5 buckets, SPM reorders, rate 0/100, null passthrough") {
    val docs = (1L to 40L).map(i => (i, s"doc $i body with some chars"))
      .toDF("doc_id", "text") union
      Seq((99L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val all = TextOps.fimTransform(docs, ratePct = 100).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val Re = "<\\|fim_prefix\\|>(.*)<\\|fim_suffix\\|>(.*)<\\|fim_middle\\|>(.*)".r
    all.filter(_._1 != 99L).foreach { case (id, fim, t) =>
      assert(fim == 1)
      val Re(p, s, m) = (t: @unchecked) // prefix+middle+suffix = original
      assert(p + m + s == s"doc $id body with some chars")
    }
    // null text passes through untransformed whatever the rate
    assert(all.find(_._1 == 99L).get._2 == 0 &&
      all.find(_._1 == 99L).get._3 == null)
    // rate 0: identity
    val none = TextOps.fimTransform(docs, ratePct = 0).collect()
    assert(none.forall(r => r.getInt(1) == 0))
    // rate 50: the md5 gate picks a strict subset, same ids every run,
    // and transformed docs match the rate-100 rebuild exactly
    val half = TextOps.fimTransform(docs, ratePct = 50).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val nHalf = half.count(_._2 == 1)
    assert(nHalf > 0 && nHalf < 40)
    val full = all.map(t => t._1 -> t._3).toMap
    half.filter(_._2 == 1).foreach { case (id, _, t) =>
      assert(t == full(id)) }
    // SPM puts the suffix first but cuts at the same positions
    val spm = TextOps.fimTransform(docs, ratePct = 100, spm = true)
      .collect().map(r => (r.getLong(0), r.getString(2)))
    val ReS = "<\\|fim_suffix\\|>(.*)<\\|fim_prefix\\|>(.*)<\\|fim_middle\\|>(.*)".r
    spm.filter(_._1 != 99L).foreach { case (id, t) =>
      val ReS(s, p, m) = (t: @unchecked)
      val Re(p2, s2, m2) = (full(id): @unchecked)
      assert(p == p2 && s == s2 && m == m2)
    }
    intercept[IllegalArgumentException] {
      TextOps.fimTransform(docs, ratePct = 101)
    }
  }

  test("blockSegments: blocks fill exactly, straddling docs split at " +
    "the boundary, every doc covered once incl. EOS, short tail kept") {
    // one shard so the stream order (md5 salt, then id) is total
    val docs = Seq((1L, "a b c"), (2L, "d e f g h"), (3L, "i j"))
      .toDF("doc_id", "text")
    val got = TextOps.blockSegments(docs, blockTokens = 4, nShards = 1)
      .orderBy("block_id", "block_pos").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))
    // per-doc contribution = n_tokens + 1 (EOS): stream = 4+6+3 = 13
    // tokens ⇒ blocks 0-2 full, block 3 is the 1-token short tail
    assert(got.map(_._5).sum == 13L)
    assert(got.map(_._1).max == 3L)
    // every block position is covered exactly once, in order
    got.groupBy(_._1).foreach { case (b, segs) =>
      val sorted = segs.sortBy(_._2)
      assert(sorted.head._2 == 0L)
      sorted.sliding(2).foreach {
        case Array(p, n) => assert(p._2 + p._5 == n._2); case _ => }
      assert(sorted.map(_._5).sum == (if (b < 3L) 4L else 1L))
    }
    // each doc's segments are contiguous from offset 0 to n_tokens+1
    got.groupBy(_._3).foreach { case (_, segs) =>
      val sorted = segs.sortBy(_._4)
      assert(sorted.head._4 == 0L)
      sorted.sliding(2).foreach {
        case Array(p, n) => assert(p._4 + p._5 == n._4); case _ => }
    }
    // doc 2 contributes 6 tokens > blockTokens: it MUST straddle,
    // whatever the salted order put around it
    assert(got.count(_._3 == 2L) >= 2)
    // deterministic run-over-run
    val again = TextOps.blockSegments(docs, blockTokens = 4, nShards = 1)
      .orderBy("block_id", "block_pos").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))
    assert(got.toSeq == again.toSeq)
    // row-count identity: one row per doc + one per crossed boundary
    val crossings = got.length - 3
    assert(crossings >= 1 && got.length == 3 + crossings)
    intercept[IllegalArgumentException] {
      TextOps.blockSegments(docs, blockTokens = 0)
    }
    // ICP mode: orderCol groups related docs adjacent in the stream —
    // with cluster labels, stream offsets are contiguous per cluster
    val clustered = Seq((1L, "a b c", "t1"), (2L, "d e", "t2"),
      (3L, "f g h", "t1"), (4L, "i", "t2"))
      .toDF("doc_id", "text", "topic")
    val icp = TextOps.blockSegments(clustered, blockTokens = 100,
      nShards = 1, orderCol = Some("topic"))
      .orderBy("block_pos").collect().map(_.getLong(3)).toSeq
    // one 100-token block holds everything; order = (topic, id)
    assert(icp == Seq(1L, 3L, 2L, 4L))
  }

  test("domainReweight: closed-form KL, divergent domain up-weighted, " +
    "eta=0 is the share mix, ppm sums to ~1e6, non-dyadic eta rejected") {
    // domain a: tokens (x,x,y); domain b: tokens (z,z,z) — b is fully
    // disjoint from the mix, a shares x,y with nobody else either, so
    // both KLs are hand-computable: corpus N=6, c(x)=2,c(y)=1,c(z)=3
    val docs = Seq((1L, "a", "x x"), (2L, "a", "y"), (3L, "b", "z z z"))
      .toDF("doc_id", "source", "text")
    val got = TextOps.domainReweight(docs).orderBy("domain").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    def grid(x: Double) = math.floor(x * 4096 + 0.5) / 4096
    // KL(a‖mix) = 2/3·ln((2/3)/(2/6)) + 1/3·ln((1/3)/(1/6)) = ln 2
    // KL(b‖mix) = 1·ln(1/(3/6)) = ln 2
    val kl = grid(2.0 / 3 * math.log(2.0 / 3 / (2.0 / 6)) +
      1.0 / 3 * math.log(1.0 / 3 / (1.0 / 6)))
    assert(got.map(t => (t._1, t._2, t._3, t._4)).toSeq ==
      Seq(("a", 2L, 3L, kl), ("b", 1L, 3L, grid(math.log(2)))))
    // equal KLs ⇒ weights stay proportional to shares (3/6 each here)
    assert(got.map(_._5).toSeq == Seq(500000L, 500000L))
    assert(math.abs(got.map(_._5).sum - 1000000L) <= got.length)
    // a divergent domain beats a mix-conforming one at equal share:
    // c/d both 6 tokens; c IS half the corpus mass of each shared token
    // while d is token-disjoint ⇒ KL(d) > KL(c) ⇒ weight(d) > weight(c)
    val docs2 = Seq((1L, "c", "p q r p q r"), (2L, "d", "u v w u v w"),
      (3L, "c2", "p q r p q r")).toDF("doc_id", "source", "text")
    val w2 = TextOps.domainReweight(docs2).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getLong(4))).toMap
    assert(w2("d")._1 > w2("c")._1 && w2("d")._2 > w2("c")._2)
    // eta=0 disables the update: ppm = floor(share·1e6)
    val w0 = TextOps.domainReweight(docs2, eta = 0.0).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(w0 == Map("c" -> 333333L, "d" -> 333333L, "c2" -> 333333L))
    // portableFold=false keeps the same grid values on this tiny input
    val wf = TextOps.domainReweight(docs2, portableFold = false).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(wf == w2.map { case (k, v) => k -> v._1 })
    intercept[IllegalArgumentException] {
      TextOps.domainReweight(docs, eta = 0.0001)
    }
  }

  test("thresholdSweep: confusion counts per threshold, undefined " +
    "precision is null, null score/label rows counted not vanished") {
    val scored = Seq((1L, Some(2.0), Some(1L)), (2L, Some(0.5), Some(0L)),
      (3L, Some(-1.0), Some(1L)), (4L, Some(-2.0), Some(0L)),
      (5L, None, Some(1L)), (6L, Some(3.0), None))
      .toDF("doc_id", "logit", "label")
    val got = TextOps.thresholdSweep(scored, Seq(0.0, 10.0))
      .orderBy("threshold").collect()
    val t0 = got(0)
    assert((t0.getLong(1), t0.getLong(2), t0.getLong(3),
      t0.getLong(4)) == (1L, 1L, 1L, 1L))
    assert(t0.getLong(5) == 2L) // the null-score and null-label rows
    // cells + n_null account for every input row
    assert(t0.getLong(1) + t0.getLong(2) + t0.getLong(3) +
      t0.getLong(4) + t0.getLong(5) == 6L)
    assert(t0.getDouble(6) == 0.5 && t0.getDouble(7) == 0.5)
    val t10 = got(1) // nothing scores ≥ 10 → precision undefined
    assert(t10.getLong(1) == 0L && t10.isNullAt(6))
    assert(t10.getDouble(7) == 0.0)
  }

  test("hostShardPlan: same host one shard, loads add up, " +
    "hostless rows excluded") {
    val urls = Seq("https://a.com/1", "https://a.com/2",
      "https://b.com/1", "https://c.com/1", "not a url")
      .zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("doc_id", "url")
    val plan = graft.text.UrlOps.hostShardPlan(urls, nShards = 4)
      .collect()
    assert(plan.map(_.getLong(1)).sum == 3L) // 3 valid hosts
    assert(plan.map(_.getLong(2)).sum == 4L) // 4 valid urls
    // a.com contributes max_host_urls=2 on whichever shard holds it
    assert(plan.map(_.getLong(3)).max == 2L)
    // assignment is the md5 bucket of the host — replay it for a.com
    val aShard = urls.sparkSession.range(1)
      .select(TextOps.hashBucket(lit("a.com"), 4).as("s"))
      .head().getLong(0)
    val aRow = plan.find(_.getLong(3) == 2L).get
    assert(aRow.getLong(0) == aShard)
  }

  test("ivfPqTopK: only probed clusters are ranked, codebook comes from " +
    "the full corpus, ADC values match the unprobed path") {
    // clusters: 1 = near the query, 2 = far. Codebook = vectors 0,1
    // (one from each cluster) regardless of the probe set.
    val embs = Seq(
      (0L, Seq(0.0, 0.0, 0.0, 0.0), 1),
      (1L, Seq(10.0, 0.0, 0.0, 10.0), 2),
      (2L, Seq(1.0, 0.0, 0.0, 1.0), 1),
      (3L, Seq(9.0, 0.0, 0.0, 9.0), 2))
      .toDF("vec_id", "embedding", "label")
    val q = Array(1.0, 0.0, 0.0, 0.0)
    val got = Similarity.ivfPqTopK(embs, q, topK = 4, clusterCol = "label",
      nProbe = 1, m = 2, k = 2, dim = 4).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // probe = cluster 1 (centroid (0.5,0,0,0.5) is nearer the query than
    // (9.5,0,0,9.5)); ADC values identical to the pqAdcTopK spec's
    assert(got == Seq((0L, 1.0), (2L, 1.0)))
  }

  test("dedupAudit: distinct digests, null handling, exact-quotient " +
    "duplicate rates") {
    val docs = Seq(
      (0L, "s1", "same text"), (1L, "s1", "same text"),
      (2L, "s1", "Same  TEXT"), // normalized-dup of the pair
      (3L, "s1", null.asInstanceOf[String]),
      (4L, "s2", "unique")).toDF("doc_id", "source", "text")
    val got = Dedup.dedupAudit(docs).orderBy("source").collect()
    val s1 = got(0)
    assert((s1.getLong(1), s1.getLong(2), s1.getLong(3),
      s1.getLong(4)) == (4L, 1L, 2L, 1L))
    assert(s1.getDouble(5) == 1.0 - 2.0 / 3) // exact dup rate
    assert(s1.getDouble(6) == 1.0 - 1.0 / 3) // normalized dup rate
    val s2 = got(1)
    assert(s2.getLong(1) == 1L && s2.getDouble(5) == 0.0)
  }

  test("spanCorruption: deterministic md5 masking, numbered sentinels, " +
    "target pairs in position order") {
    def maskOf(id: Long, pos: Int): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"${id}_$pos".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 5 == 0
    }
    val words = "alpha bravo charlie delta echo foxtrot golf hotel"
    val docs = Seq((7L, words)).toDF("doc_id", "text")
    val got = TextOps.spanCorruption(docs).head()
    val toks = words.split(" ")
    val masks = toks.indices.map(maskOf(7L, _))
    assert(got.getLong(1) == toks.length.toLong)
    assert(got.getLong(2) == masks.count(identity).toLong)
    var k = 0
    val expectedInput = toks.indices.map { i =>
      if (masks(i)) { val s = s"<extra_id_$k>"; k += 1; s } else toks(i)
    }.mkString(" ")
    var k2 = 0
    val expectedTarget = toks.indices.flatMap { i =>
      if (masks(i)) { val s = s"<extra_id_$k2> ${toks(i)}"; k2 += 1
        Some(s) } else None
    }.mkString(" ")
    assert(got.getString(3) == expectedInput)
    assert(got.getString(4) == expectedTarget)
    assert(masks.count(identity) > 0, "fixture should mask something")
  }

  test("lshTuningCurve: every 64-hash banding present, chain-exact " +
    "probabilities, monotone in s") {
    val got = Dedup.lshTuningCurve(spark, numHashes = 64)
      .orderBy("r", "s").collect()
    assert(got.length == 5 * 19) // (2,32),(4,16),(8,8),(16,4),(32,2)
    val rbs = got.map(r => (r.getInt(0), r.getInt(1))).distinct.toSet
    assert(rbs == Set((2, 32), (4, 16), (8, 8), (16, 4), (32, 2)))
    // replay one value with the same left-associative chains
    val row = got.find(r => r.getInt(0) == 8 &&
      math.abs(r.getDouble(2) - 0.5) < 1e-9).get
    def chain(x: Double, n: Int) = (1 until n).foldLeft(x)((a, _) => a * x)
    val s = 10L * 0.05 // the grid's own arithmetic: id * 0.05
    assert(row.getDouble(3) == 1.0 - chain(1.0 - chain(s, 8), 8))
    // S-curve: nondecreasing in s within each banding
    got.grouped(19).foreach { g =>
      g.sliding(2).foreach { w =>
        assert(w(0).getDouble(3) <= w(1).getDouble(3) + 1e-15) }
    }
  }

  test("piiReport: per-rule counts, docs-with-any, null-safe") {
    val docs = Seq(
      (0L, "s1", "mail me at a.b+c@x-y.co or 555-1234 thanks"),
      (1L, "s1", "card 1234567890123456 and 1111222233334444"),
      (2L, "s1", "clean text"),
      (3L, "s2", null.asInstanceOf[String]))
      .toDF("doc_id", "source", "text")
    val got = TextOps.piiReport(docs).orderBy("source").collect()
    val s1 = got(0)
    assert((s1.getLong(1), s1.getLong(2), s1.getLong(3), s1.getLong(4),
      s1.getLong(5)) == (3L, 1L, 1L, 2L, 2L))
    val s2 = got(1)
    assert((s2.getLong(1), s2.getLong(5)) == (1L, 0L))
  }

  test("urlDepthStats: non-empty segment depth, query/fragment excluded, " +
    "hostless rows dropped, exact mean") {
    val urls = Seq(
      "https://a.com/",            // depth 0
      "https://a.com/x/y?p=/q/r",  // depth 2 (query excluded)
      "https://a.com/x/y/z#/f",    // depth 3 (fragment excluded)
      "https://b.com",             // no path → depth 0
      "nonsense").toDF("url")
    val got = graft.text.UrlOps.urlDepthStats(urls).orderBy("domain")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == Seq(("a.com", 3L, 3L, 5.0 / 3), ("b.com", 1L, 0L, 0.0)))
  }

  test("crawlFrontier: crawled URLs excluded after canonicalization, " +
    "ranked by reference count then url, top-k bounded") {
    val out = Seq(
      "https://A.com/x?utm_source=t", // canonicalizes to crawled → out
      "https://a.com/new", "https://a.com/new", // 2 refs
      "https://b.com/once").toDF("url")
    val crawled = Seq("https://a.com/x").toDF("url")
    val got = graft.text.UrlOps.crawlFrontier(out, crawled, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("https://a.com/new", 2L),
      ("https://b.com/once", 1L)))
  }

  test("centroidDrift: identical halves drift zero, a shifted group " +
    "reads the exact quantized distance") {
    val a = Seq((0L, Seq(1.0, 2.0, 0.0, 0.0), 1),
      (2L, Seq(3.0, 4.0, 0.0, 0.0), 1),
      (4L, Seq(1.0, 1.0, 1.0, 1.0), 2))
      .toDF("vec_id", "embedding", "label")
    val b = Seq((1L, Seq(1.0, 2.0, 0.0, 0.0), 1),
      (3L, Seq(3.0, 4.0, 0.0, 0.0), 1),
      (5L, Seq(1.0, 1.0, 1.0, 4.0), 2)) // last dim +3
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidDrift(a, b, dim = 4).orderBy("label")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(got == Seq((1, 0.0), (2, 3.0)))
  }

  test("skewReport: heaviest keys first, totals attached, " +
    "uniform corpus reads factor 1.0") {
    val skewed = (Seq.fill(6)(1L) ++ Seq(2L, 2L, 3L))
      .toDF("k") // 1→6, 2→2, 3→1: n_rows 9, n_keys 3, max 6
    val got = graft.ops.Stats.skewReport(skewed, "k", topK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got == Seq((1L, 6L, 9L, 3L, 2.0), (2L, 2L, 9L, 3L, 2.0)))
    val uniform = Seq(1L, 2L, 3L).toDF("k")
    val u = graft.ops.Stats.skewReport(uniform, "k", topK = 1).head()
    assert(u.getDouble(4) == 1.0)
  }

  test("epochShuffleOrder: different permutation per epoch, " +
    "same epoch always identical, rank bounded") {
    val docs = (0L until 40L).map(Tuple1(_)).toDF("doc_id")
    val a = TextOps.epochShuffleOrder(docs, epochs = 2, topK = 40)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val e0 = a.filter(_._1 == 0).sortBy(_._2).map(_._3).toSeq
    val e1 = a.filter(_._1 == 1).sortBy(_._2).map(_._3).toSeq
    assert(e0.toSet == e1.toSet && e0 != e1) // same docs, new order
    val again = TextOps.epochShuffleOrder(docs, epochs = 1, topK = 40)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    assert(again == e0) // epoch 0 is reproducible
    val bounded = TextOps.epochShuffleOrder(docs, epochs = 2, topK = 3)
    assert(bounded.count() == 6)
  }

  test("lDiversity: k-anonymous group with one sensitive value is " +
    "flagged; diverse groups pass") {
    val df = Seq(
      // group (a): 4 rows but ONE sensitive value → below l=2
      ("a", 1), ("a", 1), ("a", 1), ("a", 1),
      // group (b): 2 rows, 2 values → diverse
      ("b", 1), ("b", 2)).toDF("quasi", "sens")
    val got = graft.ops.Quality.lDiversity(df, Seq("quasi"), "sens",
      l = 2).head()
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3)) == (6L, 2L, 1L, 4L))
    assert(got.getDouble(4) == BigDecimal(4.0 / 6).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got.getLong(5) == 1L)
  }

  test("shardBalance: counts add up, balance is the exact ratio, " +
    "empty shards absent") {
    val docs = (0L until 50L).map(i => (i, "a b c")).toDF("doc_id", "text")
    val got = TextOps.shardBalance(docs, nShards = 4).collect()
    assert(got.map(_.getLong(1)).sum == 50L)
    assert(got.map(_.getLong(2)).sum == 150L) // 3 tokens per doc
    got.foreach { r =>
      assert(r.getDouble(3) == r.getLong(1) * 4.0 / 50.0) }
  }

  test("crawlDelay: first directive wins, case-insensitive, default on " +
    "absent; fetchMakespan: per-host serial, shard max and sum") {
    val delays = Seq(
      "User-agent: *\nCRAWL-DELAY: 7\nCrawl-delay: 2",
      "Disallow: /x", null).toDF("robots_txt")
      .select(graft.text.UrlOps.crawlDelay(col("robots_txt")).as("d"))
      .collect().map(_.getLong(0)).toSeq
    assert(delays == Seq(7L, 1L, 1L))
    val urls = Seq("https://a.com/1", "https://a.com/2",
      "https://b.com/1").toDF("url")
    val robots = Seq(("a.com", "Crawl-delay: 5")).toDF("host", "robots_txt")
    val got = graft.text.UrlOps.fetchMakespan(urls, robots, nShards = 1)
      .head()
    // a.com: 2 urls × 5 s = 10; b.com (no robots): 1 × default 1 = 1
    assert((got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) == (2L, 3L, 10L, 11L))
  }

  test("codeSignals: code snippet flagged by density, indented prose " +
    "alone is not code, keyword tokens counted whole, paren keywords " +
    "match as prefixes") {
    val docs = Seq(
      (1L, "def f(x):\n  return x + 1;\n  var y = {a: 1};"),
      (2L, "plain prose with no punctuation of that kind at all"),
      (3L, "  indented poem\n  second line\n  third line"),
      (4L, "variance and classes words do not count as keywords"),
      // real C-family tokenization: "if(x)" / "for(int" / "while(true)"
      // carry the keyword as a PREFIX, never as a whole token
      (5L, "  if(x)\n  for(int\n  while(true)"))
      .toDF("doc_id", "text")
    val got = TextOps.codeSignals(docs).orderBy("doc_id").collect()
    assert(got(0).getLong(6) == 1L) // code: density + keywords
    assert(got(0).getLong(3) == 3L) // def, return, var
    assert(got(1).getLong(6) == 0L)
    // indented but zero keywords → not code under the && rule
    assert(got(2).getLong(6) == 0L &&
      got(2).getDouble(5) == 1.0)
    assert(got(3).getLong(3) == 0L) // substrings don't count
    assert(got(4).getLong(3) == 3L) // if(x) for(int while(true) all hit
    assert(got(4).getLong(6) == 1L) // indent ≥ 0.3 with ≥ 2 hits → code
  }

  test("extractTables: rows and cells in order, th and td, attributes " +
    "tolerated, markup-free cells only") {
    val html = "<table><tr class=h><th>a</th><th>b</th></tr>" +
      "<TR><td colspan=2>c</td><td><b>skip</b></td></TR></table>"
    val got = Seq(html).toDF("h")
      .select(posexplode(TextOps.extractTables(col("h")))
        .as(Seq("row", "cells")))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[String](1).toList)).toList
    assert(got == List((0, List("a", "b")), (1, List("c"))))
  }

  test("codeQualityRules: exact line geometry, autogen marker only " +
    "inside the scan window, each threshold gates independently") {
    val docs = Seq(
      (1L, "def f():\n    return 1\n"), // clean: passes
      (2L, "// GENERATED BY protoc\ncode"), // autogen, case-folded
      // marker BEYOND the 5-line scan window → not autogen
      (3L, "a\nb\nc\nd\ne\ndo not edit\nf"),
      (4L, "x" * 1200), // one minified line: max + avg both fail
      (5L, "{};;()->**"), // zero alnum chars → alnum_frac fails
      (6L, "")) // empty: 1 line of 0 chars, alnum_frac 0 → fails
      .toDF("doc_id", "text")
    val got = TextOps.codeQualityRules(docs).orderBy("doc_id").collect()
    // (1): lines 8/12/0 chars → n=3, Σ=20, avg=20/3, max=12,
    // alnum 11 of 22
    assert(got(0).getLong(1) == 3L && got(0).getLong(2) == 12L)
    assert(got(0).getDouble(3) == 20.0 / 3.0)
    assert(got(0).getDouble(4) == 0.5)
    assert(got(0).getLong(5) == 0L && got(0).getLong(6) == 1L)
    assert(got(1).getLong(5) == 1L && got(1).getLong(6) == 0L)
    assert(got(2).getLong(5) == 0L)
    assert(got(3).getLong(2) == 1200L && got(3).getLong(6) == 0L)
    assert(got(4).getDouble(4) == 0.0 && got(4).getLong(6) == 0L)
    assert(got(5).getLong(1) == 1L && got(5).getDouble(3) == 0.0 &&
      got(5).getLong(6) == 0L)
  }

  test("lossTrajectories: OLS slope exact on integer telemetry, the " +
    "four verdicts land, 1-point docs dropped; rollup means exact") {
    import graft.ops.Training
    val tele = (
      // d1: perfect line 1000 − 100x over x=0..4 → slope −100, learned
      (0 to 4).map(x => (1L, x, 1000L - 100L * x)) ++
      // d2: 400 − 100x → last 0 < 100 → memorized
      (0 to 4).map(x => (2L, x, 400L - 100L * x)) ++
      // d3: the sign-balanced +,−,−,+ pattern → slope exactly 0,
      // range 600 > 500 → noisy
      Seq((3L, 0, 1300L), (3L, 1, 700L), (3L, 2, 700L), (3L, 3, 1300L)) ++
      // d4: constant → stagnant
      (0 to 2).map(x => (4L, x, 800L)) ++
      // d5: one observation → unclassifiable, dropped
      Seq((5L, 0, 123L))
    ).toDF("doc_id", "step", "loss_milli")
    val got = Training.lossTrajectories(tele).orderBy("doc_id").collect()
    assert(got.length == 4)
    assert(got(0).getDouble(4) == -100.0 &&
      got(0).getString(5) == "learned")
    assert(got(0).getLong(2) == 1000L && got(0).getLong(3) == 600L)
    assert(got(1).getString(5) == "memorized")
    assert(got(2).getDouble(4) == 0.0 && got(2).getString(5) == "noisy")
    assert(got(3).getString(5) == "stagnant")
    val labels = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "b"))
      .toDF("doc_id", "source")
    val roll = Training.lossVerdictRollup(
        Training.lossTrajectories(tele), labels)
      .orderBy("source", "verdict").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toList
    assert(roll == List(("a", "learned", 1L, 600.0),
      ("a", "memorized", 1L, 0.0), ("b", "noisy", 1L, 1300.0),
      ("b", "stagnant", 1L, 800.0)))
  }

  test("packManifest: boundary offsets are in-pack running sums, fill " +
    "is the exact quotient, truncation propagates to its pack") {
    val packed = Seq(
      (0L, 0L, 1, 1L, 10L, 0),
      (0L, 0L, 2, 2L, 20L, 0),
      (0L, 0L, 3, 3L, 30L, 0),
      (0L, 1L, 1, 4L, 100L, 1), // oversized singleton
      (1L, 0L, 1, 5L, 64L, 0)) // exactly full
      .toDF("shard", "pack_id", "pack_pos", "doc_id", "n_tokens",
        "truncated")
    val got = TextOps.packManifest(packed, maxTokens = 64)
      .orderBy("shard", "pack_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getDouble(5), r.getInt(6))).toList
    assert(got == List(
      (0L, 0L, 3L, 60L, "10,30,60", 60.0 / 64.0, 0),
      (0L, 1L, 1L, 100L, "100", 100.0 / 64.0, 1),
      (1L, 0L, 1L, 64L, "64", 1.0, 0)))
  }

  test("injectCanaries/canaryScan/canaryExposure: markers append in " +
    "spec order, occurrences counted exactly, unseen canary reads " +
    "zeros through the left join") {
    val docs = Seq((1L, "alpha"), (2L, "beta"), (3L, null))
      .toDF("doc_id", "text")
    // modulus 1 = every doc carries both canaries, in spec order
    val spec = Seq("ca" -> 1, "cb" -> 1)
    val inj = TextOps.injectCanaries(docs, spec)
      .orderBy("doc_id").collect()
    val caM = Seq("x").toDF("t")
      .select(TextOps.canaryText(lit("ca"))).head().getString(0)
    val cbM = Seq("x").toDF("t")
      .select(TextOps.canaryText(lit("cb"))).head().getString(0)
    assert(inj(0).getString(1) == s"alpha $caM $cbM")
    assert(inj(2).getString(1) == s" $caM $cbM") // null text → ""
    val manifest = TextOps.canaryScan(
        TextOps.injectCanaries(docs, spec), spec)
      .orderBy("canary_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    assert(manifest == List(("ca", 3L, 3L), ("cb", 3L, 3L)))
    // generations: one doc leaks cb TWICE, one is clean — ca never
    val gen = Seq((1L, s"say $cbM then $cbM"), (2L, "clean"))
      .toDF("doc_id", "text")
    val audit = TextOps.canaryScan(gen, spec)
    val exp = TextOps.canaryExposure(
        TextOps.canaryScan(TextOps.injectCanaries(docs, spec), spec),
        audit)
      .orderBy("canary_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).toList
    assert(exp == List(("ca", 3L, 0L, 0L, 0.0, 0L),
      ("cb", 3L, 1L, 2L, 1.0 / 3.0, 1L)))
  }

  test("markdownStats + fencedBlocks: structural counts, composite " +
    "verdict, tagged/untagged blocks in order, unterminated ignored") {
    val md = "# h1\n## h2\ntext [a](u) and [b](v)\n- x\n* y\n" +
      "```scala\nval z=1\n```\ntail"
    val docs = Seq((1L, md), (2L, "no structure here"), (3L, null))
      .toDF("doc_id", "text")
    val got = TextOps.markdownStats(docs).orderBy("doc_id").collect()
    assert(got(0).getLong(1) == 2L && got(0).getLong(2) == 1L &&
      got(0).getLong(3) == 2L && got(0).getLong(4) == 2L &&
      got(0).getLong(5) == 1L)
    assert(got(1).getLong(5) == 0L && got(2).getLong(5) == 0L)
    def blocks(s: String): List[(String, String)] =
      Seq(s).toDF("t")
        .select(explode(TextOps.fencedBlocks(col("t"))).as("b"))
        .select(col("b.lang"), col("b.body")).collect()
        .map(r => (r.getString(0), r.getString(1))).toList
    assert(blocks(md) == List(("scala", "val z=1\n")))
    assert(blocks("```py\na\n```\nmid\n```\nb\n```") ==
      List(("py", "a\n"), ("", "b\n")))
    assert(blocks("```py\nnever closed") == Nil)
    assert(blocks("no fences") == Nil)
  }

  test("tokenFertility: exact integer sums, quotient taken once — " +
    "4-char pieces, digits, punct runs all count as subwords") {
    val docs = Seq(
      (1L, "s1", "abcdefgh x1!"), // abcd+efgh + x + 1 + ! = 5 subwords
      (2L, "s1", "ab cd")).toDF("doc_id", "source", "text")
    val got = TextOps.tokenFertility(docs).orderBy("source").collect()
    val r = got(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == (2L, 4L, 7L))
    assert(r.getDouble(4) == 1.75) // 7 subwords / 4 words
    // chars: "abcdefgh x1!"=12, "ab cd"=5 → 17/7
    assert(r.getDouble(5) ==
      BigDecimal(17.0 / 7).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("tCloseness: scaled-integer EMD matches hand computation; " +
    "uniform group passes, skewed groups flagged; null sens excluded") {
    // global over 6 rows: sens 0 and 1 each 3× → Q = (.5, .5)
    val df = Seq(("a", Some(0)), ("a", Some(0)),   // P=(1,0)  EMD .5
      ("b", Some(0)), ("b", Some(1)),              // P=(.5,.5) EMD 0
      ("c", Some(1)), ("c", Some(1)),              // P=(0,1)  EMD .5
      ("b", None)                                  // null: excluded
    ).toDF("quasi", "sens")
    val got = Quality.tCloseness(df, Seq("quasi"), "sens")
      .orderBy("quasi").collect()
    assert(got.length == 3)
    val byQ = got.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4))).toMap
    assert(byQ("a") == ((2L, 6L, 0.5, 1)))  // cum=|2*6-3*2|=6, den=12
    assert(byQ("b") == ((2L, 0L, 0.0, 0)))
    assert(byQ("c") == ((2L, 6L, 0.5, 1)))
  }

  test("rougeOneGate: multiset F1, 0.7 cutoff integer-exact, " +
    "no-overlap candidate kept, ties go to the lowest pool id") {
    val pool = Seq((1L, "the cat sat"), (2L, "dog runs fast"))
      .toDF("doc_id", "text")
    val cand = Seq((10L, "the cat sat"),        // F1=1 vs pool 1 → dup
      (11L, "the cat ran far"),                  // o=2, F1=4/7 → keep
      (12L, "zebra"),                            // no shared token
      (13L, "the the the"),                      // multiset: o=min(3,1)=1
      (14L, null.asInstanceOf[String])           // excluded
    ).toDF("doc_id", "text")
    val got = Dedup.rougeOneGate(pool, cand).orderBy("cand_id").collect()
    assert(got.length == 4)
    val m = got.map(r => r.getLong(0) -> r).toMap
    assert(m(10L).getInt(4) == 0 && m(10L).getLong(3) == 1L &&
      m(10L).getDouble(2) == 1.0)
    assert(m(11L).getInt(4) == 1 && m(11L).getDouble(2) == 4.0 / 7)
    assert(m(12L).getInt(4) == 1 && m(12L).isNullAt(3) &&
      m(12L).getDouble(2) == 0.0)
    assert(m(13L).getDouble(2) == 2.0 / 6 && m(13L).getInt(4) == 1)
    // equal-F1 tie: both pool docs identical → best is the LOWEST id
    val tiePool = Seq((7L, "a b"), (3L, "a b")).toDF("doc_id", "text")
    val tie = Dedup.rougeOneGate(tiePool,
      Seq((20L, "a b")).toDF("doc_id", "text")).head()
    assert(tie.getLong(3) == 3L && tie.getInt(4) == 0)
    // string doc ids: the struct tie-break must not negate the id —
    // ties break toward the lexicographically smallest pool id
    val sPool = Seq(("p-b", "a b"), ("p-a", "a b")).toDF("doc_id", "text")
    val sTie = Dedup.rougeOneGate(sPool,
      Seq(("c-1", "a b")).toDF("doc_id", "text")).head()
    assert(sTie.getString(3) == "p-a" && sTie.getInt(4) == 0)
  }

  test("clusterQuotaSelect: per-cluster cap by (score desc, id), " +
    "sparse clusters keep all members, WindowGroupLimit in the plan") {
    val dim = 2
    val cents = Seq(0L -> Array(1.0, 0.0), 1L -> Array(0.0, 1.0))
    val embs = Seq(
      (10L, Seq(1.0f, 0.1f)), (11L, Seq(0.9f, 0.0f)),      // cluster 0
      (20L, Seq(0.1f, 1.0f)), (21L, Seq(0.0f, 0.8f)),      // cluster 1
      (22L, Seq(0.05f, 0.9f))).toDF("vec_id", "embedding")
    val sel = Similarity.clusterQuotaSelect(embs, cents, quota = 2,
      score = col("vec_id"), dim = dim)
    assert(sel.queryExecution.executedPlan.toString
      .contains("WindowGroupLimit"))
    val got = sel.orderBy("cluster", "rk").collect()
      .map(r => (r.getLong(1), r.getInt(3), r.getLong(0))).toSeq
    // cluster 0 has 2 members (both kept); cluster 1's 3 members cap at
    // the 2 highest scores (22, 21) — 20 is dropped
    assert(got == Seq((0L, 1, 11L), (0L, 2, 10L),
      (1L, 1, 22L), (1L, 2, 21L)))
  }

  test("seqLenSweep: exact clip/pad accounting per candidate length") {
    val docs = Seq((1L, "a b c"), (2L, "a b c d e"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextOps.seqLenSweep(docs, lengths = Seq(2, 4))
      .orderBy("seq_len").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    assert(got == Seq((2L, 2L, 2L, 4L, 0L, 4L, 1.0),
      (4L, 2L, 1L, 1L, 1L, 7L, 7.0 / 8)))
  }

  test("lengthBiasAudit: sign-test counts, exact mean delta, " +
    "cross-multiplied flag, null pairs excluded") {
    val pairs = Seq(("a b c", "a"), ("a", "b c"), ("a b", "c d"),
      (null.asInstanceOf[String], "x")).toDF("chosen", "rejected")
    val r = graft.ops.Chat.lengthBiasAudit(pairs).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (3L, 1L, 1L, 1L))
    assert(r.getDouble(4) == 1.0 / 3)
    assert(r.getInt(5) == 0)
    val biased = Seq(("a b", "a"), ("x y z", "x"), ("p q", "p"))
      .toDF("chosen", "rejected")
    assert(graft.ops.Chat.lengthBiasAudit(biased).head().getInt(5) == 1)
  }

  test("dedupCascade: stage precedence (exact beats normalized beats " +
    "near), canonical is the smallest id, stage 3 runs on survivors " +
    "only and agrees with simhashCandidates") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),        // exact dup of 1
      (3L, "A  b c D e f g h"),       // normalized dup of 1
      (4L, "a b c d e f g h i"),      // near candidate of 1 (or keep)
      (5L, "zzz qqq www uuu vvv")).toDF("doc_id", "text")
    val got = Dedup.dedupCascade(docs).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(got(1L) == (("keep", -1L)))
    assert(got(2L) == (("exact", 1L)))      // not 'normalized': precedence
    assert(got(3L) == (("normalized", 1L)))
    assert(got(5L) == (("keep", -1L)))
    // stage 3 ground truth from the SimHash op itself over survivors 1,4,5
    val surv = docs.filter(col("doc_id").isin(1L, 4L, 5L))
    val pairs = Dedup.simhashCandidates(surv, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (pairs.contains((1L, 4L))) assert(got(4L) == (("near", 1L)))
    else assert(got(4L) == (("keep", -1L)))
  }

  test("nllSpans: max-NLL window located exactly, ties to earliest " +
    "start, short docs drop out, dyadic sums exact") {
    val docs = Seq((1L, "a a a b a a"), (2L, "a a"), (3L, "z"))
      .toDF("doc_id", "text")
    // corpus: a=7, b=1, z=1, N=9
    def q(x: Double) = math.floor(x * 1048576.0 + 0.5) / 1048576.0
    val (qa, qb) = (q(StrictMath.log(9.0 / 7)), q(StrictMath.log(9.0)))
    val got = TextOps.nllSpans(docs, window = 2).orderBy("doc_id")
      .collect()
    assert(got.length == 2) // doc 3 is under the window and drops out
    // doc 1: [a,b] and [b,a] tie at qa+qb — earliest start (2) wins
    assert((got(0).getLong(0), got(0).getLong(1), got(0).getLong(2),
      got(0).getLong(3), got(0).getDouble(4)) == (1L, 6L, 2L, 3L, qa + qb))
    assert((got(1).getLong(0), got(1).getLong(1), got(1).getLong(2),
      got(1).getLong(3), got(1).getDouble(4)) == (2L, 2L, 0L, 1L, qa + qa))
  }

  test("heapsLawFit: power-of-two checkpoints, exact prefix distincts, " +
    "all-unique corpus fits beta=1 exactly, single point degrades to null") {
    // source s: checkpoints r=1 (3 tok, 2 types), r=2 (5,3), r=4 (8,6);
    // rank 3 is not a power of two and contributes no point
    val docs = Seq((1L, "s", "a b a"), (2L, "s", "c a"), (3L, "s", "d"),
      (4L, "s", "e f"),
      // source u: one unique token per doc → x=y at every checkpoint
      (11L, "u", "t1"), (12L, "u", "t2"), (13L, "u", "t3"),
      (14L, "u", "t4"),
      // source one: a single doc → 1 point, zero x-variance
      (21L, "one", "p q r")).toDF("doc_id", "source", "text")
    val got = TextOps.heapsLawFit(docs).orderBy("source").collect()
      .map(r => r.getString(0) -> r).toMap
    def q(x: Double) = math.floor(x * 1048576.0 + 0.5) / 1048576.0
    val (lx, ly) = (Seq(3.0, 5.0, 8.0).map(v => q(StrictMath.log(v))),
      Seq(2.0, 3.0, 6.0).map(v => q(StrictMath.log(v))))
    val (sx, sy) = (lx.foldLeft(0.0)(_ + _), ly.foldLeft(0.0)(_ + _))
    val sxy = lx.zip(ly).map { case (a, b) => a * b }.foldLeft(0.0)(_ + _)
    val sxx = lx.map(a => a * a).foldLeft(0.0)(_ + _)
    val beta = (3.0 * sxy - sx * sy) / (3.0 * sxx - sx * sx)
    val s = got("s")
    assert(s.getLong(1) == 3L && s.getDouble(2) == beta &&
      s.getDouble(3) == (sy - beta * sx) / 3.0)
    val u = got("u")
    assert(u.getLong(1) == 3L && u.getDouble(2) == 1.0 &&
      u.getDouble(3) == 0.0 && u.getDouble(4) == 1.0)
    val one = got("one")
    assert(one.getLong(1) == 1L && one.isNullAt(2) && one.isNullAt(3) &&
      one.isNullAt(4))
  }

  test("bloomGate: no false negatives; packed and relational paths " +
    "decide identically; tiny filter shows false positives, exact " +
    "audit never exceeds the bloom") {
    val all = (0L until 120L).map(i => s"https://h$i.example.com/p$i")
      .toDF("url")
    val seenDf = (0L until 120L).filter(_ % 3 == 0)
      .map(i => s"https://h$i.example.com/p$i").toDF("url")
    def decisions(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val packed = decisions(Dedup.bloomGate(all, seenDf, "url",
      mBits = 4096, kHashes = 3, packed = true))
    val rel = decisions(Dedup.bloomGate(all, seenDf, "url",
      mBits = 4096, kHashes = 3, packed = false))
    assert(packed == rel)
    // no false negatives: every seen url hits
    seenDf.collect().map(_.getString(0)).foreach(u =>
      assert(packed(u) == 1, s"false negative on $u"))
    // tiny filter: realized false positives, and exact ⊆ bloom
    val audit = Dedup.bloomGate(all, seenDf, "url", mBits = 64,
      kHashes = 2, packed = true, withExact = true).collect()
    assert(audit.forall(r => r.getInt(1) >= r.getInt(2)))
    assert(audit.exists(r => r.getInt(1) == 1 && r.getInt(2) == 0),
      "64-bit filter over 40 urls must show a false positive")
  }

  test("brierScore: exact hand case on a 1/4 grid, perfect and " +
    "worst-case calibration, off-grid confidences snap, null rows " +
    "excluded") {
    val rows = Seq((1.0, 1), (0.5, 0), (0.25, 1), (0.0, 0))
      .toDF("confidence", "correct")
    val got = ops.Chat.brierScore(rows, gridDen = 4).head()
    // diffs on the k grid: 0, 2, -3, 0 → Σ = 13; 13 / (4·16) exact
    assert(got.getLong(0) == 4L && got.getLong(1) == 13L &&
      got.getDouble(2) == 13.0 / 64.0, s"got $got")
    val perfect = Seq((1.0, 1), (0.0, 0)).toDF("confidence", "correct")
    assert(ops.Chat.brierScore(perfect).head().getDouble(2) == 0.0)
    val worst = Seq((1.0, 0), (0.0, 1)).toDF("confidence", "correct")
    assert(ops.Chat.brierScore(worst).head().getDouble(2) == 1.0)
    // 0.26 on the 1/4 grid snaps to k=1 (the upstream-snap contract)
    val snap = Seq((0.26, 0)).toDF("confidence", "correct")
    assert(ops.Chat.brierScore(snap, gridDen = 4).head()
      .getLong(1) == 1L)
    val withNull = Seq((Some(1.0), Some(1)), (None, Some(0)),
      (Some(0.5), None)).toDF("confidence", "correct")
    assert(ops.Chat.brierScore(withNull).head().getLong(0) == 1L)
  }

  test("appendMoments + fitPcaFromMoments: three appended batches " +
    "reproduce the one-pass fit (moments are additive) — same " +
    "eigenvalues, axes aligned up to sign") {
    import graft.ml.Pca
    val pts = (0 until 48).map { i =>
      val t = i * 0.25; val u = (i % 5) * 0.5
      (i.toLong, Seq((t + u).toFloat, (2.0 * t - u).toFloat,
        (0.5 * u + 3.0).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("mom").toString
    val state = s"$tmp/moments"
    Seq(0, 1, 2).foreach { b =>
      Pca.appendMoments(df.filter(col("vec_id") % 3 === b), state,
        batchId = s"b$b", dim = 3)
    }
    val inc = Pca.fitPcaFromMoments(spark, state, k = 3, dim = 3)
    val one = Pca.fitPca(df, k = 3, dim = 3)
    inc.eigenvalues.zip(one.eigenvalues).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"eigenvalue drift: $a vs $b") }
    inc.mean.zip(one.mean).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12) }
    inc.components.zip(one.components).foreach { case (va, vb) =>
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      assert(math.abs(math.abs(dot) - 1.0) < 1e-6,
        s"axis misaligned: |dot| = ${math.abs(dot)}") }
    // state is |batches| rows, each one moment row
    assert(spark.read.parquet(state).count() == 3L)
  }

  test("SentencePiece .model ingestion: byte-literal external vectors " +
    "(hand-derived from the published wire format), unknown fields " +
    "skipped by wire type, model_type, scores feed unigramSegment as " +
    "log probabilities, truncation fails descriptively") {
    import graft.text.TokenizerFiles
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("sp").toString
    // external-compat vectors: ModelProto{ pieces=[SentencePiece{
    // piece="<unk>", score=0.0, type=UNKNOWN(2)}, SentencePiece{
    // piece="ab", score=-1.5, type=NORMAL(1)}],
    // trainer_spec{model_type=BPE(2)} } — bytes written from the spec,
    // independent of our own encoder
    val lit2 = Array(
      0x0A, 0x0E, 0x0A, 0x05, '<'.toInt, 'u'.toInt, 'n'.toInt,
      'k'.toInt, '>'.toInt, 0x15, 0x00, 0x00, 0x00, 0x00, 0x18, 0x02,
      0x0A, 0x0B, 0x0A, 0x02, 'a'.toInt, 'b'.toInt,
      0x15, 0x00, 0x00, 0xC0, 0xBF, 0x18, 0x01,
      0x12, 0x02, 0x18, 0x02).map(_.toByte)
    Files.write(Paths.get(s"$tmp/lit.model"), lit2)
    val got = TokenizerFiles.readSentencePieceModel(spark,
      s"$tmp/lit.model")
    assert(got == Seq(
      TokenizerFiles.SpPiece("<unk>", 0.0, 2, 0),
      TokenizerFiles.SpPiece("ab", -1.5, 1, 1)), s"got $got")
    assert(TokenizerFiles.readSentencePieceModelType(spark,
      s"$tmp/lit.model") == 2)
    // generated fixture: a unigram vocab with control/user-defined
    // types, an unknown varint field (99) inside one piece, and an
    // unknown length-delimited top-level field (5)
    def vi(n0: Long): Seq[Byte] = {
      var n = n0; val out = Seq.newBuilder[Byte]
      var more = true
      while (more) {
        val x = (n & 0x7f).toInt; n >>>= 7
        more = n != 0
        out += (if (more) (x | 0x80).toByte else x.toByte)
      }
      out.result()
    }
    def fl(f: Float): Seq[Byte] = {
      val b = java.lang.Float.floatToIntBits(f)
      Seq((b & 0xff).toByte, ((b >> 8) & 0xff).toByte,
        ((b >> 16) & 0xff).toByte, ((b >> 24) & 0xff).toByte)
    }
    def sp(piece: String, score: Float, t: Int,
           extra: Seq[Byte] = Nil): Seq[Byte] = {
      val pb = piece.getBytes("UTF-8").toSeq
      val body = Seq(0x0A.toByte) ++ vi(pb.length) ++ pb ++
        Seq(0x15.toByte) ++ fl(score) ++ Seq(0x18.toByte) ++ vi(t) ++
        extra
      Seq(0x0A.toByte) ++ vi(body.length) ++ body
    }
    val unknown99 = vi((99L << 3) | 0) ++ vi(7)
    val pieces =
      sp("<unk>", 0.0f, 2) ++ sp("<s>", 0.0f, 3) ++
        "unafble".distinct.toSeq.flatMap(c =>
          sp(c.toString, -3.0f, 1)) ++
        sp("un", -2.0f, 1, extra = unknown99) ++
        sp("aff", -2.5f, 1) ++ sp("able", -2.5f, 1) ++
        sp("xx", -9.0f, 4) ++
        (vi((5L << 3) | 2) ++ vi(3) ++ Seq[Byte](1, 2, 3)) ++
        (vi((2L << 3) | 2) ++ vi(2) ++ Seq(0x18.toByte) ++ vi(1))
    Files.write(Paths.get(s"$tmp/uni.model"), pieces.toArray)
    val all = TokenizerFiles.readSentencePieceModel(spark,
      s"$tmp/uni.model")
    assert(all.length == 13 && all.head.piece == "<unk>" &&
      all.last.piece == "xx" && all.last.id == 12, s"got $all")
    assert(TokenizerFiles.readSentencePieceModelType(spark,
      s"$tmp/uni.model") == 1)
    // the segmenter consumes the scores directly as lnp
    val vocab = TokenizerFiles.sentencePieceVocab(spark, s"$tmp/uni.model")
    assert(vocab.count() == 11L) // <unk>/<s> filtered, user-defined kept
    // DELIBERATE asymmetry with tokenizer.json added_tokens: a .model
    // CONTROL piece is NEVER an extraction special — sentencepiece
    // control symbols don't match raw input (the caller inserts
    // them), so loadTokenizer must not carry <s> into `specials`
    assert(TokenizerFiles.loadTokenizer(spark, s"$tmp/uni.model")
      .asInstanceOf[TokenizerFiles.UnigramTokenizer].specials.isEmpty)
    val seg = TextOps.unigramSegment(Seq("unaffable").toDF("word"),
      vocab, maxLen = 12, maxPiece = 4).head()
    assert(seg.getString(3) == "un|aff|able" && seg.getLong(1) == 3L &&
      seg.getDouble(2) == -7.0, s"got $seg")
    // truncation: a piece announcing more bytes than the file holds
    Files.write(Paths.get(s"$tmp/bad.model"),
      Array(0x0A, 0x10, 0x0A, 0x02).map(_.toByte))
    val e = intercept[IllegalArgumentException] {
      TokenizerFiles.readSentencePieceModel(spark, s"$tmp/bad.model")
    }
    assert(e.getMessage.contains("truncated"), s"got ${e.getMessage}")
  }

  test("loadTokenizer: one call from any shipped format to an encoder " +
    "— merges.txt and BPE tokenizer.json route byte-level, vocab.txt " +
    "and WordPiece json route wordpiece, Unigram json and UNIGRAM " +
    ".model return the scored vocab; mismatches fail with the file " +
    "named") {
    import graft.text.TokenizerFiles
    import java.nio.file.{Files, Paths}
    def enc(t: TokenizerFiles.LoadedTokenizer, s0: String): Seq[String] = {
      val c = t.asInstanceOf[TokenizerFiles.ColumnTokenizer]
      Seq(s0).toDF("t").select(c.encode(col("t")).as("e")).head()
        .getSeq[String](0)
    }
    val merges = getClass.getResource("/graft/fixture_merges.txt").getPath
    val tm = TokenizerFiles.loadTokenizer(spark, merges)
    assert(tm.family == "bpe_byte_level")
    assert(enc(tm, "the").nonEmpty)
    val tj = TokenizerFiles.loadTokenizer(spark,
      getClass.getResource("/graft/fixture_gpt2_tokenizer.json").getPath)
    assert(tj.family == "bpe_byte_level")
    val wp = TokenizerFiles.loadTokenizer(spark,
      getClass.getResource("/graft/fixture_wp_tokenizer.json").getPath)
    assert(wp.family == "wordpiece")
    assert(enc(wp, "unaffable running") ==
      Seq("un ##aff ##able", "run ##ning"))
    val vt = TokenizerFiles.loadTokenizer(spark,
      getClass.getResource("/graft/fixture_vocab.txt").getPath)
    assert(vt.family == "wordpiece")
    assert(enc(vt, "walks") == Seq("walk ##s"))
    // Unigram tokenizer.json: vocab as [piece, score] pairs
    val tmp = Files.createTempDirectory("ldtok").toString
    // the file's OWN unk_token / max_input_chars_per_word beat the
    // call-site defaults: "<unk>" is not "[UNK]", and maxChars=6 turns
    // 7-char 'walking' into the unk even though pieces exist
    Files.write(Paths.get(s"$tmp/wp2.json"),
      """{"model": {"type": "WordPiece", "unk_token": "<unk>",
        | "max_input_chars_per_word": 6,
        | "vocab": {"<unk>": 0, "walk": 1, "##s": 2, "##ing": 3}},
        | "pre_tokenizer": {"type": "BertPreTokenizer"}}"""
        .stripMargin.getBytes("UTF-8"))
    val wp2 = TokenizerFiles.loadTokenizer(spark, s"$tmp/wp2.json")
    assert(enc(wp2, "walks walking") == Seq("walk ##s", "<unk>"),
      s"got ${enc(wp2, "walks walking")}")
    Files.write(Paths.get(s"$tmp/uni.json"),
      """{"model": {"type": "Unigram", "vocab":
        | [["<unk>", 0.0], ["ab", -1.5], ["c", -2.0]]}}"""
        .stripMargin.getBytes("UTF-8"))
    val uj = TokenizerFiles.loadTokenizer(spark, s"$tmp/uni.json")
      .asInstanceOf[TokenizerFiles.UnigramTokenizer]
    assert(uj.family == "unigram" && uj.vocab.count() == 3L)
    // a BPE-typed sentencepiece .model carries no applicable merges
    Files.write(Paths.get(s"$tmp/bpe.model"), Array(
      0x0A, 0x0B, 0x0A, 0x02, 'a'.toInt, 'b'.toInt,
      0x15, 0x00, 0x00, 0xC0, 0xBF, 0x18, 0x01,
      0x12, 0x02, 0x18, 0x02).map(_.toByte))
    val e = intercept[IllegalArgumentException] {
      TokenizerFiles.loadTokenizer(spark, s"$tmp/bpe.model")
    }
    assert(e.getMessage.contains("bpe.model"), s"got ${e.getMessage}")
    intercept[IllegalArgumentException] {
      TokenizerFiles.loadTokenizer(spark, s"$tmp/weird.bin")
    }
    // a .txt NOT literally named vocab.txt is sniffed, not assumed to
    // be merges: vocab lines are single tokens (no interior space),
    // merges lines are 'lhs rhs' or the '#version' header
    Files.write(Paths.get(s"$tmp/bert_vocab_v2.txt"),
      "[UNK]\nwalk\n##s\n".getBytes("UTF-8"))
    val sniffedVocab =
      TokenizerFiles.loadTokenizer(spark, s"$tmp/bert_vocab_v2.txt")
    assert(sniffedVocab.family == "wordpiece")
    assert(enc(sniffedVocab, "walks") == Seq("walk ##s"))
    val mergesBody = new String(Files.readAllBytes(Paths.get(merges)),
      "UTF-8")
    Files.write(Paths.get(s"$tmp/gpt2_merges_v1.txt"),
      mergesBody.getBytes("UTF-8"))
    val sniffedMerges =
      TokenizerFiles.loadTokenizer(spark, s"$tmp/gpt2_merges_v1.txt")
    assert(sniffedMerges.family == "bpe_byte_level")
    assert(enc(sniffedMerges, "the") == enc(tm, "the"))
    Files.write(Paths.get(s"$tmp/empty.txt"), Array.empty[Byte])
    val ee = intercept[IllegalArgumentException] {
      TokenizerFiles.loadTokenizer(spark, s"$tmp/empty.txt")
    }
    assert(ee.getMessage.contains("empty.txt"), s"got ${ee.getMessage}")
  }

  test("tokenizer normalizer dispatch: declared NFKC/Lowercase chains " +
    "compose in front of every encoder, Sequence flattens in order, " +
    "writers round-trip, .model normalizer_spec reaches the unigram " +
    "word domain, unsupported kinds fail by name, absent = identity") {
    import graft.text.TokenizerFiles
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("normtok").toString
    // --- reader: absent, single, Sequence (nested), unsupported ---
    Files.write(Paths.get(s"$tmp/none.json"),
      """{"model": {"type": "Unigram", "vocab": [["a", -1.0]]}}"""
        .getBytes("UTF-8"))
    assert(TokenizerFiles.readNormalizerKinds(spark, s"$tmp/none.json")
      == Seq.empty)
    Files.write(Paths.get(s"$tmp/one.json"),
      """{"normalizer": {"type": "NFKC"},
        | "model": {"type": "Unigram", "vocab": [["a", -1.0]]}}"""
        .stripMargin.getBytes("UTF-8"))
    assert(TokenizerFiles.readNormalizerKinds(spark, s"$tmp/one.json")
      == Seq("NFKC"))
    Files.write(Paths.get(s"$tmp/seq.json"),
      """{"normalizer": {"type": "Sequence", "normalizers":
        |  [{"type": "NFKC"}, {"type": "Sequence", "normalizers":
        |    [{"type": "Lowercase"}, {"type": "NFC"}]}]},
        | "model": {"type": "Unigram", "vocab": [["a", -1.0]]}}"""
        .stripMargin.getBytes("UTF-8"))
    assert(TokenizerFiles.readNormalizerKinds(spark, s"$tmp/seq.json")
      == Seq("NFKC", "Lowercase", "NFC"))
    Files.write(Paths.get(s"$tmp/precomp.json"),
      """{"normalizer": {"type": "Precompiled"},
        | "model": {"type": "Unigram", "vocab": [["a", -1.0]]}}"""
        .stripMargin.getBytes("UTF-8"))
    val eb = intercept[IllegalArgumentException] {
      TokenizerFiles.loadTokenizer(spark, s"$tmp/precomp.json")
    }
    assert(eb.getMessage.contains("Precompiled"), s"got $eb")
    // BertNormalizer expands to its flag-derived sub-chain (the
    // bert-base-uncased day-one shape): defaults = clean_text +
    // chinese-chars + strip_accents(follows lowercase) + lowercase
    Files.write(Paths.get(s"$tmp/bertn.json"),
      """{"normalizer": {"type": "BertNormalizer"},
        | "model": {"type": "Unigram", "vocab": [["a", -1.0]]}}"""
        .stripMargin.getBytes("UTF-8"))
    assert(TokenizerFiles.readNormalizerKinds(spark, s"$tmp/bertn.json")
      == Seq("BertCleanText", "BertChineseChars", "StripAccents",
        "Lowercase"))
    // lowercase=false + absent strip_accents ⇒ strip follows = off
    Files.write(Paths.get(s"$tmp/bertc.json"),
      """{"normalizer": {"type": "BertNormalizer", "lowercase": false,
        |  "handle_chinese_chars": false},
        | "model": {"type": "Unigram", "vocab": [["a", -1.0]]}}"""
        .stripMargin.getBytes("UTF-8"))
    assert(TokenizerFiles.readNormalizerKinds(spark, s"$tmp/bertc.json")
      == Seq("BertCleanText"))
    // --- BPE whitespace family: declared chain undoes full-width
    // damage; the same file WITHOUT the declaration encodes
    // differently (lower() alone maps Ｗ only to full-width ｗ) ---
    val merges = Seq("w" -> "a", "wa" -> "l", "wal" -> "k")
    val vocab = Seq("w", "a", "l", "k", "wa", "wal", "walk")
      .zipWithIndex
    TokenizerFiles.writeTokenizerJsonBpe(spark, s"$tmp/norm_bpe.json",
      merges, vocab, preTokenizer = "whitespace",
      normalizers = Seq("NFKC", "Lowercase"))
    assert(TokenizerFiles.readNormalizerKinds(spark,
      s"$tmp/norm_bpe.json") == Seq("NFKC", "Lowercase"))
    TokenizerFiles.writeTokenizerJsonBpe(spark, s"$tmp/raw_bpe.json",
      merges, vocab, preTokenizer = "whitespace")
    def encOne(path: String, s0: String): Seq[String] = {
      val c = TokenizerFiles.loadTokenizer(spark, path)
        .asInstanceOf[TokenizerFiles.ColumnTokenizer]
      Seq(s0).toDF("t").select(c.encode(col("t")).as("e")).head()
        .getSeq[String](0)
    }
    val damaged = "ＷＡＬＫ ﬁt" // full-width word + fi-ligature word
    assert(encOne(s"$tmp/norm_bpe.json", damaged) ==
      Seq("walk", "f i t"))
    assert(encOne(s"$tmp/raw_bpe.json", damaged) !=
      Seq("walk", "f i t"))
    assert(encOne(s"$tmp/norm_bpe.json", damaged) ==
      encOne(s"$tmp/raw_bpe.json", "walk fit"))
    // --- Unigram parity: tokenizer.json route vs .model route of the
    // SAME model (nfkc_cf = NFKC + casefold) build the same word
    // domain from NFD + full-width damaged text ---
    val uvocab = Seq(("café", -1.0), ("abc", -1.2), ("c", -3.0),
      ("a", -3.0), ("f", -3.0), ("é", -3.0), ("b", -3.0))
    TokenizerFiles.writeTokenizerJsonUnigram(spark,
      s"$tmp/norm_uni.json", uvocab,
      normalizers = Seq("NFKC", "Lowercase"))
    TokenizerFiles.writeSentencePieceModel(spark, s"$tmp/norm_uni.model",
      uvocab, normalizerName = "nmt_nfkc_cf")
    assert(TokenizerFiles.readSentencePieceNormalizerName(spark,
      s"$tmp/norm_uni.model") == Some("nmt_nfkc_cf"))
    val damaged2 = "CAFÉ ＡＢＣ" // NFD é + full-width ABC
    def domain(path: String): Seq[String] = {
      val u = TokenizerFiles.loadTokenizer(spark, path)
        .asInstanceOf[TokenizerFiles.UnigramTokenizer]
      Seq(damaged2).toDF("t")
        .select(u.preTokens(col("t")).as("w")).head().getSeq[String](0)
    }
    assert(domain(s"$tmp/norm_uni.json") == Seq("café", "abc"))
    assert(domain(s"$tmp/norm_uni.model") == Seq("café", "abc"))
    // both routes' vocab then segments the normalized domain fully
    val uj = TokenizerFiles.loadTokenizer(spark, s"$tmp/norm_uni.json")
      .asInstanceOf[TokenizerFiles.UnigramTokenizer]
    val seg = TextOps.unigramSegment(
      Seq("café", "abc").toDF("word"), uj.vocab)
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(seg == Map("café" -> "café", "abc" -> "abc"))
    // --- .model: nmt_nfkc maps to NFKC, identity/absent to identity,
    // unknown names fail descriptively ---
    TokenizerFiles.writeSentencePieceModel(spark, s"$tmp/id.model",
      uvocab, normalizerName = "identity")
    val idDom = {
      val u = TokenizerFiles.loadTokenizer(spark, s"$tmp/id.model")
        .asInstanceOf[TokenizerFiles.UnigramTokenizer]
      Seq(damaged2).toDF("t")
        .select(u.preTokens(col("t")).as("w")).head().getSeq[String](0)
    }
    assert(idDom != Seq("café", "abc")) // identity keeps the damage
    TokenizerFiles.writeSentencePieceModel(spark, s"$tmp/weird.model",
      uvocab, normalizerName = "custom_rules_v2")
    val ew = intercept[IllegalArgumentException] {
      TokenizerFiles.loadTokenizer(spark, s"$tmp/weird.model")
    }
    assert(ew.getMessage.contains("custom_rules_v2"), s"got $ew")
    // --- parameterized rules: a BERT WordPiece file end-to-end (the
    // real bert-base-uncased shape): accents strip (café→cafe), CJK
    // ideographs pad into their own pre-tokens, control chars drop,
    // case folds — all BEFORE the BERT basic split ---
    Files.write(Paths.get(s"$tmp/bert_wp.json"),
      """{"normalizer": {"type": "BertNormalizer"},
        | "model": {"type": "WordPiece", "unk_token": "[UNK]",
        | "vocab": {"[UNK]": 0, "cafe": 1, "walk": 2, "##s": 3,
        |           "中": 4, "国": 5}},
        | "pre_tokenizer": {"type": "BertPreTokenizer"}}"""
        .stripMargin.getBytes("UTF-8"))
    val bwp = TokenizerFiles.loadTokenizer(spark, s"$tmp/bert_wp.json")
      .asInstanceOf[TokenizerFiles.ColumnTokenizer]
    val bEnc = Seq("Café 中国 WALKS ").toDF("t")
      .select(bwp.encode(col("t")).as("e")).head().getSeq[String](0)
    assert(bEnc == Seq("cafe", "中", "国", "walk ##s"), s"got $bEnc")
    // --- the WordPiece WRITER round-trips the same shape: shipped
    // file re-reads with the expanded BertNormalizer chain, the
    // declared unk/maxChars, and the identical encode ---
    TokenizerFiles.writeTokenizerJsonWordPiece(spark,
      s"$tmp/bert_wp_written.json",
      Seq("[UNK]" -> 0, "cafe" -> 1, "walk" -> 2, "##s" -> 3,
        "中" -> 4, "国" -> 5),
      unk = "[UNK]", maxChars = 6, bertNormalizer = true)
    assert(TokenizerFiles.readNormalizerKinds(spark,
        s"$tmp/bert_wp_written.json")
      == Seq("BertCleanText", "BertChineseChars", "StripAccents",
        "Lowercase"))
    val bww = TokenizerFiles.loadTokenizer(spark,
        s"$tmp/bert_wp_written.json")
      .asInstanceOf[TokenizerFiles.ColumnTokenizer]
    // maxChars = 6 written into the file: 'walkers' (7 chars) must
    // collapse to [UNK] through the DECLARED guard, not a default
    val bwEnc = Seq("Café 中国 WALKS walkers").toDF("t")
      .select(bww.encode(col("t")).as("e")).head().getSeq[String](0)
    assert(bwEnc == Seq("cafe", "中", "国", "walk ##s", "[UNK]"),
      s"got $bwEnc")
    // simple-chain and composite knobs are mutually exclusive; unk
    // must be a vocab entry
    intercept[IllegalArgumentException] {
      TokenizerFiles.writeTokenizerJsonWordPiece(spark,
        s"$tmp/bad_wp1.json", Seq("[UNK]" -> 0, "a" -> 1),
        normalizers = Seq("NFKC"), bertNormalizer = true)
    }
    intercept[IllegalArgumentException] {
      TokenizerFiles.writeTokenizerJsonWordPiece(spark,
        s"$tmp/bad_wp2.json", Seq("a" -> 0), unk = "[UNK]")
    }
    // --- Strip / Replace / Prepend rules parse and compose ---
    Files.write(Paths.get(s"$tmp/srp.json"),
      """{"normalizer": {"type": "Sequence", "normalizers": [
        |   {"type": "Strip", "strip_left": true, "strip_right": true},
        |   {"type": "Replace", "pattern": {"String": "qq"},
        |    "content": "k"},
        |   {"type": "Prepend", "prepend": ">"}]},
        | "model": {"type": "Unigram", "vocab": [["a", -1.0]]}}"""
        .stripMargin.getBytes("UTF-8"))
    assert(TokenizerFiles.readNormalizerKinds(spark, s"$tmp/srp.json")
      == Seq("Strip", "Replace", "Prepend"))
    val srpT = TokenizerFiles.normalizerTransformRules(
      TokenizerFiles.readNormalizerRules(spark, s"$tmp/srp.json"))
    val srpOut = Seq("  walqqs  ", "").toDF("t")
      .select(srpT(col("t")).as("n")).collect().map(_.getString(0))
    // U+00A0 is unicode whitespace: (?U) strip takes it; qq→k; the
    // prepend skips empty text (the published Prepend contract)
    assert(srpOut.toSeq == Seq(">walks", ""), s"got ${srpOut.toSeq}")
    // regex Replace routes regexp_replace
    Files.write(Paths.get(s"$tmp/rrex.json"),
      """{"normalizer": {"type": "Replace",
        |  "pattern": {"Regex": "[0-9]+"}, "content": "#"},
        | "model": {"type": "Unigram", "vocab": [["a", -1.0]]}}"""
        .stripMargin.getBytes("UTF-8"))
    val rrexT = TokenizerFiles.normalizerTransformRules(
      TokenizerFiles.readNormalizerRules(spark, s"$tmp/rrex.json"))
    assert(Seq("a12b345").toDF("t").select(rrexT(col("t")))
      .head().getString(0) == "a#b#")
    // --- WordPiece leg composes too ---
    Files.write(Paths.get(s"$tmp/wp_norm.json"),
      """{"normalizer": {"type": "NFKC"},
        | "model": {"type": "WordPiece", "unk_token": "[UNK]",
        | "vocab": {"[UNK]": 0, "walk": 1, "##s": 2}},
        | "pre_tokenizer": {"type": "BertPreTokenizer"}}"""
        .stripMargin.getBytes("UTF-8"))
    val wpn = TokenizerFiles.loadTokenizer(spark, s"$tmp/wp_norm.json")
      .asInstanceOf[TokenizerFiles.ColumnTokenizer]
    val wpEnc = Seq("ｗａｌｋｓ").toDF("t")
      .select(wpn.encode(col("t")).as("e")).head().getSeq[String](0)
    assert(wpEnc == Seq("walk ##s"), s"got $wpEnc")
  }

  test("added_tokens: declared specials extract before the model " +
    "(glued or free-standing), budgets count them, the unigram word " +
    "domain never sees them, and declared edge semantics fail by " +
    "name") {
    import java.nio.file.{Files, Paths}
    import graft.text.TokenizerFiles
    val tmp = Files.createTempDirectory("graft_added_tok").toString
    // writer → reader round-trip on the whitespace-BPE family
    TokenizerFiles.writeTokenizerJsonBpe(spark, s"$tmp/bpe_added.json",
      Seq("t" -> "h", "th" -> "e"),
      Seq("t" -> 0, "h" -> 1, "e" -> 2, "th" -> 3, "the" -> 4),
      preTokenizer = "whitespace",
      addedTokens = Seq("<|doc|>" -> 100L, "<s>" -> 101L))
    val ats = TokenizerFiles.readAddedTokens(spark, s"$tmp/bpe_added.json")
    assert(ats.map(a => (a.content, a.id, a.special)) ==
      Seq(("<|doc|>", 100L, true), ("<s>", 101L, true)))
    val lt = TokenizerFiles.loadTokenizer(spark, s"$tmp/bpe_added.json")
      .asInstanceOf[TokenizerFiles.ColumnTokenizer]
    // free-standing, glued-both-sides, adjacent specials, leading and
    // trailing — every occurrence its own single piece, neighbors
    // encoded exactly as without the special
    val got = Seq("<|doc|> the x<s>the<|doc|>y <s><|doc|> the<s>")
      .toDF("t").select(lt.encode(col("t")).as("e"))
      .head().getSeq[String](0)
    assert(got == Seq("<|doc|>", "the", "x", "<s>", "the", "<|doc|>",
      "y", "<s>", "<|doc|>", "the", "<s>"), s"got $got")
    // budget counting rides the wrapped encoder: n_words counts
    // specials as pre-tokens, n_tokens as one token each
    val bud = TokenizerFiles.tokenBudgets(lt,
      Seq((1L, "<|doc|> the x<s>")).toDF("doc_id", "text"))
      .head()
    assert((bud.getLong(1), bud.getLong(2)) == ((4L, 4L)), s"got $bud")
    // a token that is a PREFIX of another extracts longest-first and
    // counts once (the <extra_id_9>/<extra_id_99> shape)
    TokenizerFiles.writeTokenizerJsonBpe(spark, s"$tmp/bpe_pref.json",
      Seq("t" -> "h"), Seq("t" -> 0, "h" -> 1, "th" -> 2),
      preTokenizer = "whitespace",
      addedTokens = Seq("<e9>" -> 1L, "<e99>" -> 2L))
    val ltp = TokenizerFiles.loadTokenizer(spark, s"$tmp/bpe_pref.json")
      .asInstanceOf[TokenizerFiles.ColumnTokenizer]
    val gotP = Seq("<e99>t<e9>").toDF("t")
      .select(ltp.encode(col("t")).as("e")).head().getSeq[String](0)
    assert(gotP == Seq("<e99>", "t", "<e9>"), s"got $gotP")
    assert(Seq(("<e99>t<e9>", 1)).toDF("t", "i")
      .select(TokenizerFiles.addedTokensCount(Seq("<e9>", "<e99>"))(
        col("t"))).head().getLong(0) == 2L)
    // unigram leg: the word domain is built from the STRIPPED text
    // (no ▁<s> pollution) and budgets re-add the specials per row
    Files.write(Paths.get(s"$tmp/uni_added.json"),
      """{"added_tokens": [
        |   {"id": 0, "content": "<s>", "special": true,
        |    "normalized": false}],
        | "model": {"type": "Unigram",
        | "vocab": [["a", -0.5], ["b", -0.7], ["ab", -0.9]]}}"""
        .stripMargin.getBytes("UTF-8"))
    val ut = TokenizerFiles.loadTokenizer(spark, s"$tmp/uni_added.json")
      .asInstanceOf[TokenizerFiles.UnigramTokenizer]
    assert(ut.specials == Seq("<s>"))
    val dom = Seq("<s>ab ab<s> b").toDF("t")
      .select(explode(ut.preTokens(col("t"))).as("w"))
      .collect().map(_.getString(0)).toSeq.sorted
    assert(dom == Seq("ab", "ab", "b"), s"got $dom")
    val ub = TokenizerFiles.tokenBudgets(ut,
      Seq((1L, "<s>ab ab<s> b")).toDF("doc_id", "text")).head()
    // words: ab, ab, b (+2 specials) = 5; tokens: 1+1+1 (+2) = 5
    assert((ub.getLong(1), ub.getLong(2)) == ((5L, 5L)), s"got $ub")
    // declared edge semantics fail by name, never silently skip
    Files.write(Paths.get(s"$tmp/bad_lstrip.json"),
      """{"added_tokens": [
        |   {"id": 0, "content": "<s>", "lstrip": true}],
        | "model": {"type": "Unigram", "vocab": [["a", -1.0]]}}"""
        .stripMargin.getBytes("UTF-8"))
    val e1 = intercept[IllegalArgumentException] {
      TokenizerFiles.loadTokenizer(spark, s"$tmp/bad_lstrip.json")
    }
    assert(e1.getMessage.contains("lstrip"), s"got $e1")
    // normalized: true beside a declared normalizer is a different
    // pipeline — fail; WITHOUT a normalizer it is harmless and loads
    Files.write(Paths.get(s"$tmp/bad_normed.json"),
      """{"normalizer": {"type": "NFKC"},
        | "added_tokens": [
        |   {"id": 0, "content": "<s>", "normalized": true}],
        | "model": {"type": "Unigram", "vocab": [["a", -1.0]]}}"""
        .stripMargin.getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] {
      TokenizerFiles.loadTokenizer(spark, s"$tmp/bad_normed.json")
    }
    assert(e2.getMessage.contains("normalized"), s"got $e2")
    Files.write(Paths.get(s"$tmp/ok_normed.json"),
      """{"added_tokens": [
        |   {"id": 0, "content": "<s>", "normalized": true}],
        | "model": {"type": "Unigram", "vocab": [["a", -1.0]]}}"""
        .stripMargin.getBytes("UTF-8"))
    assert(TokenizerFiles.loadTokenizer(spark, s"$tmp/ok_normed.json")
      .asInstanceOf[TokenizerFiles.UnigramTokenizer]
      .specials == Seq("<s>"))
  }

  test("htmlMeta: title/canonical/description/og:title — both " +
    "attribute orders, single quotes, uppercase tags, multiline heads, " +
    "absent fields empty, null html") {
    def m(h: String): (String, String, String, String) = {
      val r = Seq(h).toDF("h")
        .select(TextOps.htmlMeta(col("h")).as("m"))
        .select("m.title", "m.canonical", "m.description", "m.og_title")
        .head()
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
    }
    assert(m("<html><head><TITLE> Hi </TITLE>" +
      "<link rel='canonical' href='https://a/x'>" +
      "<meta name='description' content='d1'>" +
      "<meta property='og:title' content='t1'></head></html>") ==
      (("Hi", "https://a/x", "d1", "t1")))
    // flipped attribute orders ride the fallback patterns
    assert(m("<link href=\"https://b/y\" rel=\"canonical\">" +
      "<meta content=\"d2\" name=\"description\">" +
      "<meta content=\"t2\" property=\"og:title\">") ==
      (("", "https://b/y", "d2", "t2")))
    // multiline head, fields spread across lines
    assert(m("<head>\n<title>\nML\n</title>\n<link\n rel=\"canonical\"" +
      "\n href=\"https://c/z\">\n</head>") ==
      (("ML", "https://c/z", "", "")))
    assert(m("<p>no head</p>") == (("", "", "", "")))
    val n = Seq[String](null).toDF("h")
      .select(TextOps.htmlMeta(col("h")).getField("title")).head()
    assert(n.getString(0) == "")
  }

  // ---- Unicode normalization ----

  test("nfcNormalize / nfkcNormalize: canonical twins collapse to one " +
    "byte sequence (combining marks, Hangul jamo), idempotent, " +
    "null/empty-safe; NFKC folds compatibility forms NFC must keep; " +
    "invalid form rejected") {
    val rows = Seq(
      ("café", "café"),
      ("한글", "한글"),
      ("plain ascii", "plain ascii")).toDF("a", "b")
    val got = rows.select(
      TextOps.nfcNormalize(col("a")).as("na"),
      TextOps.nfcNormalize(col("b")).as("nb")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"twins differ post-NFC: '${r.getString(0)}' vs '${r.getString(1)}'"))
    // idempotence, and digests collapse exactly like the q305 shape
    val idem = rows.select(
      (TextOps.nfcNormalize(TextOps.nfcNormalize(col("a")))
        === TextOps.nfcNormalize(col("a"))).as("ok"),
      (md5(TextOps.nfcNormalize(col("a")))
        === md5(TextOps.nfcNormalize(col("b")))).as("dg")).collect()
    assert(idem.forall(r => r.getBoolean(0) && r.getBoolean(1)))
    val edge = Seq(("", null.asInstanceOf[String])).toDF("e", "n")
      .select(TextOps.nfcNormalize(col("e")).as("e2"),
        TextOps.nfcNormalize(col("n")).as("n2")).head()
    assert(edge.getString(0) == "" && edge.isNullAt(1))
    // NFKC compatibility folds; NFC must NOT fold them
    val k = Seq("ﬁle", "Ａｂc", "①", "x²")
      .toDF("t")
      .select(TextOps.nfkcNormalize(col("t")).as("k"),
        TextOps.nfcNormalize(col("t")).as("c")).collect()
    assert(k.map(_.getString(0)).toSeq == Seq("file", "Abc", "1", "x2"),
      s"got ${k.map(_.getString(0)).toSeq}")
    assert(k.map(_.getString(1)).toSeq ==
      Seq("ﬁle", "Ａｂc", "①", "x²"))
    intercept[IllegalArgumentException] {
      graft.functions.UnicodeNormalize(col("t"), "NFX")
    }
  }

  // ---- PCA / whitening ----

  test("symmetricEigen: the hand 2x2 ([[4,1],[1,4]] → 5, 3 with " +
    "±(1,1)/√2 axes); A·v = λ·v, orthonormality, descending order and " +
    "determinism on a 5x5") {
    import graft.ml.Pca
    val (e2, v2) =
      Pca.symmetricEigen(Array(Array(4.0, 1.0), Array(1.0, 4.0)))
    assert(math.abs(e2(0) - 5.0) < 1e-12 && math.abs(e2(1) - 3.0) < 1e-12)
    val s2 = 1.0 / math.sqrt(2.0)
    assert(math.abs(math.abs(v2(0)(0) * s2 + v2(0)(1) * s2) - 1.0) < 1e-9)
    assert(math.abs(math.abs(v2(1)(0) * s2 - v2(1)(1) * s2) - 1.0) < 1e-9)
    val a = Array.tabulate(5, 5)((i, j) =>
      1.0 / (1 + i + j) + (if (i == j) 2.0 else 0.0))
    val (ev, rows) = Pca.symmetricEigen(a)
    for (k <- 0 until 5) {
      val v = rows(k)
      val av = Array.tabulate(5)(r =>
        (0 until 5).map(c => a(r)(c) * v(c)).sum)
      for (r <- 0 until 5)
        assert(math.abs(av(r) - ev(k) * v(r)) < 1e-9,
          s"eigen equation fails at k=$k r=$r")
      for (l <- 0 until 5) {
        val d = (0 until 5).map(c => rows(k)(c) * rows(l)(c)).sum
        assert(math.abs(d - (if (k == l) 1.0 else 0.0)) < 1e-9)
      }
    }
    assert(ev.toSeq.sliding(2).forall(p => p.head >= p(1) - 1e-12))
    val (ev2, rows2) = Pca.symmetricEigen(a)
    assert(ev.sameElements(ev2) &&
      rows.zip(rows2).forall(p => p._1.sameElements(p._2)))
  }

  test("covarianceMatrix: hand-computed 2-dim case; fitPca + " +
    "pcaProject diagonalize (projected covariance = eigenvalues " +
    "DESC, centered), whiten → identity covariance; ragged vectors " +
    "fail descriptively") {
    import graft.ml.Pca
    val hand = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 6.0f)))
      .toDF("vec_id", "embedding")
    val cm = Pca.covarianceMatrix(hand, dim = 2).orderBy("i", "j")
      .collect()
    // means (2, 4): cov = [[1, 2], [2, 4]]
    assert(cm.map(r => (r.getInt(0), r.getInt(1), r.getDouble(3)))
      .toSeq == Seq((0, 0, 1.0), (0, 1, 2.0), (1, 1, 4.0)), s"got ${
      cm.toSeq}")
    // a correlated 3-dim cloud on an exact float grid
    val pts = (0 until 48).map { i =>
      val t = i * 0.25; val u = (i % 5) * 0.5
      (i.toLong, Seq((t + u).toFloat, (2.0 * t - u).toFloat,
        (0.5 * u + 3.0).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val model = Pca.fitPca(df, k = 3, dim = 3)
    assert(model.eigenvalues.length == 3 &&
      model.eigenvalues.toSeq.sliding(2).forall(p => p.head >= p(1)))
    val proj = Pca.pcaProject(spark, df, model)
      .select(col("vec_id"), col("pca").as("embedding"))
    val pcov = Pca.covarianceMatrix(proj, dim = 3).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(3))).toMap
    for (i <- 0 until 3; j <- i until 3) {
      val want = if (i == j) model.eigenvalues(i) else 0.0
      assert(math.abs(pcov((i, j)) - want) < 1e-4,
        s"projected cov($i,$j) = ${pcov((i, j))}, want $want")
    }
    // centering: projected means ~ 0
    val pm = proj.select(
      avg(element_at(col("embedding"), 1)),
      avg(element_at(col("embedding"), 2))).head()
    assert(math.abs(pm.getDouble(0)) < 1e-4 &&
      math.abs(pm.getDouble(1)) < 1e-4)
    // whitening: identity covariance on the informative axes (the
    // cloud is rank 2 — axis 3's eigenvalue is ~0 and eps-dominated,
    // so check the top-2 block)
    val wh = Pca.pcaProject(spark, df, Pca.fitPca(df, k = 2, dim = 3),
        whiten = true)
      .select(col("vec_id"), col("pca").as("embedding"))
    val wcov = Pca.covarianceMatrix(wh, dim = 2).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(3))).toMap
    for (i <- 0 until 2; j <- i until 2) {
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(wcov((i, j)) - want) < 1e-4,
        s"whitened cov($i,$j) = ${wcov((i, j))}, want $want")
    }
    // ragged input: named failure, not a skewed matrix
    val bad = Seq((1L, Seq(1.0f)), (2L, Seq(1.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Pca.covarianceMatrix(bad, dim = 2).collect()
    }
    assert(e.getMessage != null)
    intercept[IllegalArgumentException] {
      Pca.fitPca(hand.limit(1), k = 1, dim = 2)
    }
  }

  test("whitened SemDeDup composition: PCA-whitened vectors flow " +
    "through the embedding dedup end to end — the near-identical pair " +
    "lands in ONE cluster (informative-axes whitening, k=2 on the " +
    "rank-2 cloud so the eps-dominated axis never amplifies noise)") {
    import graft.ml.Pca
    val base = (0 until 40).map { i =>
      val t = (i - 20) * 4.0
      val u = (i % 7) - 3.0
      (i.toLong, Seq((t + 100.0).toFloat, u.toFloat, 1.0f))
    }
    val dupPair = Seq(
      (100L, Seq(120.0f, 2.0f, 1.0f)),
      (101L, Seq(120.0f, 2.01f, 1.0f))) // near-identical
    val df = (base ++ dupPair).toDF("vec_id", "embedding")
    // k = 2: whiten the informative axes only — the rank-2 cloud's
    // third eigenvalue is eps-dominated and would amplify noise
    val model = Pca.fitPca(df, k = 2, dim = 3)
    val white = Pca.pcaProject(spark, df, model, whiten = true)
      .select(col("vec_id"), col("pca").as("embedding"))
      .withColumn("blk", lit(0))
    val clusters = graft.dedup.Dedup.semDeDup(white, "blk",
        minCosine = 0.9999, dim = 2)
      .select("vec_id", "rep_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the true pair shares one representative (cosine is magnitude-
    // blind, so other centered-collinear points MAY also cluster —
    // that is cosine semantics, not a dedup defect)
    assert(clusters(100L) == clusters(101L),
      s"true pair split: ${clusters(100L)} vs ${clusters(101L)}")
    // every id survives into exactly one cluster assignment
    assert(clusters.size == 42)
  }

  // ---- WordPiece (BERT family) ----

  private val wpTestVocab: Seq[(String, Int)] =
    Seq("[UNK]", "un", "##aff", "##able", "##ab", "##le", "aff",
      "run", "##ning", "walk", "##s", "the", "r", "##o", "##w", "row")
      .zipWithIndex

  test("WordPiece encodeWord: greedy longest-match-first (##aff beats " +
    "##ab, full 'row' beats r+##o+##w), whole-word [UNK] collapse on " +
    "a dead end, maxChars length guard, empty in → empty out") {
    val bc = TextOps.wordpieceVocabBroadcast(spark, wpTestVocab,
      maxChars = 9)
    val got = Seq("unaffable", "row", "walks", "walked", "affable",
      "unaffables", "run", "").toDF("w")
      .select(graft.functions.WordPiece.encodeWord(col("w"), bc).as("e"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(
      "un ##aff ##able", // greedy: ##aff (3 chars) over ##ab (2)
      "row",             // the full word wins at pos 0
      "walk ##s",
      "[UNK]",           // no ##ed continuation: pieces discarded
      "aff ##able",
      "[UNK]",           // 10 chars > maxChars=9, even though encodable
      "run",
      ""), s"got $got")
    // null word → null (UnaryExpression null contract)
    val n = Seq[String](null).toDF("w")
      .select(graft.functions.WordPiece.encodeWord(col("w"), bc).as("e"))
      .head()
    assert(n.isNullAt(0))
    // DECODE: ## continuations glue back — a covered word
    // reconstructs exactly, [UNK] stays [UNK] (information destroyed
    // at encode time), and the document form re-joins words with
    // single spaces
    val dec = Seq(("walk ##s", "[UNK]", "a")).toDF("a", "b", "c")
      .select(TextOps.wordpieceDecodeWord(col("a")),
        TextOps.wordpieceDecodeWord(col("b")),
        TextOps.wordpieceDecode(array(col("a"), col("b"), col("c"))))
      .head()
    assert(dec.getString(0) == "walks" && dec.getString(1) == "[UNK]" &&
      dec.getString(2) == "walks [UNK] a", s"got $dec")
  }

  test("wordpieceBasicTokens: lowercase, punctuation isolated (BERT's " +
    "ASCII symbol set included), CJK ideographs isolated, whitespace " +
    "runs collapse; lowercase=false preserves case") {
    def toks(s: String, lc: Boolean = true): Seq[String] =
      Seq(s).toDF("t")
        .select(TextOps.wordpieceBasicTokens(col("t"), lc).as("w"))
        .head().getSeq[String](0)
    assert(toks("Hello, World!!  foo") ==
      Seq("hello", ",", "world", "!", "!", "foo"))
    assert(toks("don't stop") == Seq("don", "'", "t", "stop"))
    assert(toks("$5+3=8") == Seq("$", "5", "+", "3", "=", "8"))
    assert(toks("abc中文x") == Seq("abc", "中", "文", "x"))
    assert(toks("Hello World", lc = false) == Seq("Hello", "World"))
    assert(toks("") == Seq.empty)
  }

  test("wordpieceEncodeIds + wordpieceTokenCount: ids are the vocab's " +
    "own positions ([UNK] included — never -1), budget sums pieces " +
    "across words; null/empty docs give empty ids and 0 tokens") {
    val bcV = TextOps.wordpieceVocabBroadcast(spark, wpTestVocab,
      maxChars = 9)
    val got = Seq("Unaffable walks walked", "", null.asInstanceOf[String])
      .toDF("text")
      .select(
        TextOps.wordpieceEncodeIds(col("text"), bcV).as("ids"),
        TextOps.wordpieceTokenCount(col("text"), bcV).as("n"))
      .collect()
    // un=1 ##aff=2 ##able=3 | walk=9 ##s=10 | [UNK]=0
    assert(got(0).getSeq[Int](0) == Seq(1, 2, 3, 9, 10, 0),
      s"got ${got(0)}")
    assert(got(0).getLong(1) == 6L)
    assert(got(1).getSeq[Int](0) == Seq.empty && got(1).getLong(1) == 0L)
    assert(got(2).getSeq[Int](0) == Seq.empty && got(2).getLong(1) == 0L)
  }

  test("WordPiece.build validation: unk must be a vocab entry, " +
    "space-bearing entries rejected, maxChars must be positive") {
    intercept[IllegalArgumentException] {
      graft.functions.WordPiece.build(Seq("a" -> 0), unk = "[UNK]")
    }
    intercept[IllegalArgumentException] {
      graft.functions.WordPiece.build(Seq("[UNK]" -> 0, "a b" -> 1))
    }
    intercept[IllegalArgumentException] {
      graft.functions.WordPiece.build(Seq("[UNK]" -> 0), maxChars = 0)
    }
  }

  test("TokenizerFiles vocab.txt + WordPiece tokenizer.json: line order " +
    "is the id assignment, the file-read vocab encodes identically to " +
    "the hand-built one, writeVocabTxt round-trips, model.type and " +
    "BertPreTokenizer dispatch flags read back") {
    import graft.text.TokenizerFiles
    val vp = getClass.getResource("/graft/fixture_vocab.txt").getPath
    val vocab = TokenizerFiles.readVocabTxt(spark, vp)
    assert(vocab.length == 15 && vocab.head == ("[PAD]", 0) &&
      vocab(1) == ("[UNK]", 1) && vocab(4) == ("un", 4) &&
      vocab(14) == ("the", 14), s"got $vocab")
    val bcFile = TokenizerFiles.wordpieceVocabBroadcastFromFile(spark, vp)
    val got = Seq("unaffable", "running", "walks", "walked").toDF("w")
      .select(graft.functions.WordPiece.encodeWord(col("w"), bcFile)
        .as("e"))
      .collect().map(_.getString(0)).toSeq
    assert(got ==
      Seq("un ##aff ##able", "run ##ning", "walk ##s", "[UNK]"),
      s"got $got")
    // write → read round-trip, and the dense-id guard
    val tmp = java.nio.file.Files.createTempDirectory("wp").toString
    TokenizerFiles.writeVocabTxt(spark, vocab, s"$tmp/v.txt")
    assert(TokenizerFiles.readVocabTxt(spark, s"$tmp/v.txt") == vocab)
    intercept[IllegalArgumentException] {
      TokenizerFiles.writeVocabTxt(spark, Seq("a" -> 0, "b" -> 2),
        s"$tmp/bad.txt")
    }
    // a blank vocab line would shift every later id — named failure
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/blank.txt"),
      "a\n\nb\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      TokenizerFiles.readVocabTxt(spark, s"$tmp/blank.txt")
    }
    assert(e.getMessage.contains(":2"), s"got ${e.getMessage}")
    // tokenizer.json (WordPiece model): family flag, pre-tokenizer
    // kind, and the model.vocab broadcast path
    val tj =
      getClass.getResource("/graft/fixture_wp_tokenizer.json").getPath
    assert(TokenizerFiles.readModelType(spark, tj) == "WordPiece")
    assert(TokenizerFiles.readPreTokenizerKind(spark, tj) == "bert")
    val bcJson =
      TokenizerFiles.wordpieceVocabBroadcastFromFile(spark, tj)
    val gj = Seq("unaffable", "running", "walks").toDF("w")
      .select(graft.functions.WordPiece.encodeWord(col("w"), bcJson)
        .as("e"))
      .collect().map(_.getString(0)).toSeq
    // walks: 'walk' is outside the json fixture's vocab → [UNK]
    assert(gj == Seq("un ##aff ##able", "run ##ning", "[UNK]"),
      s"got $gj")
  }
}
