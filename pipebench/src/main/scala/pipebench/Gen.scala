package pipebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** A closed time window [startMs, endMs] in epoch milliseconds (UTC). */
final case class Win(startMs: Long, endMs: Long) {
  def contains(t: Long): Boolean = t >= startMs && t <= endMs
  def lengthMs: Long = endMs - startMs
}

/** Size of one input, reported beside every result. */
final case class CorpusStats(files: Long, records: Long, bytes: Long)

/** What a generated subject carries on purpose: the planted nights and
  * vigorous windows the timeline must label, the >20-sample hr flatlines
  * the filter must drop, and the out-of-range vitals the clamp must drop. */
final case class SubjectTruth(
    name: String,
    input: String,
    stats: CorpusStats,
    nights: Seq[Win],
    vigorous: Seq[Win],
    flatlines: Seq[Win],
    outOfRange: Seq[(String, Long, Double)]) {
  def json: String = Json.obj(Seq(
    "subject" -> name, "files" -> stats.files, "records" -> stats.records,
    "bytes" -> stats.bytes,
    "nights" -> nights.map(w => Seq(w.startMs, w.endMs)),
    "vigorous" -> vigorous.map(w => Seq(w.startMs, w.endMs)),
    "flatlines" -> flatlines.map(w => Seq(w.startMs, w.endMs)),
    "out_of_range" -> outOfRange.map { case (k, t, v) =>
      Map("kind" -> k, "time" -> t, "data" -> v) }))
}

/** Seeded input generators. The same seed always yields the same bytes. */
object Gen {

  val MinuteMs = 60000L
  val HourMs = 3600000L
  /** Every corpus starts at 2026-03-02 12:00 UTC, so night one falls
    * inside the first subject-day. */
  val Day0Ms = 1772452800000L

  private def fmt(v: Double): String = f"$v%.2f"

  /** One raw subject-day: 24 hourly watch uploads of JSON-array records.
    *
    * Vitals tick on one `hrStepSec` grid (the filter keeps a non-hr row
    * only at a kept hr instant, so every vital shares the hr clock).
    * Accelerometer axes arrive as 5-sample records every 0.5 s with
    * jitter, drops and a rare >0.5 s skew, in three sessions of
    * `accMinutes` each: quiet sleep, quiet awake rest, and a vigorous
    * window that must come out `high active`. */
  final case class RawSize(hrStepSec: Int, accMinutes: Int)

  def rawSubjectDay(dir: Path, name: String, seed: Long,
                    size: RawSize): SubjectTruth = {
    require(size.accMinutes % 5 == 0 && size.accMinutes >= 5)
    val rng = new SplittableRandom(seed)
    val device = f"${rng.nextInt(256)}%02X-${rng.nextInt(256)}%02X-" +
      f"${rng.nextInt(256)}%02X-${rng.nextInt(256)}%02X-" +
      f"${rng.nextInt(256)}%02X-${rng.nextInt(256)}%02X"
    val hours = Array.fill(24)(new StringBuilder)
    val counts = Array.fill(24)(0)
    def emit(t: Long, kind: String, data: String): Unit = {
      val h = ((t - Day0Ms) / HourMs).toInt
      if (h >= 0 && h < 24) {
        val sb = hours(h)
        sb.append(if (counts(h) == 0) "[\n" else ",\n")
        sb.append(s"""{"time": $t, "kind": "$kind", "data": $data}""")
        counts(h) += 1
      }
    }

    val night = Win(Day0Ms + 11 * HourMs, Day0Ms + 18 * HourMs)
    val vig = Win(Day0Ms + 5 * HourMs,
      Day0Ms + 5 * HourMs + size.accMinutes * MinuteMs)
    val restSession = Day0Ms + 2 * HourMs + 30 * MinuteMs
    val sleepSession = Day0Ms + 13 * HourMs
    // hr flatlines sit in the awake hours away from the acc sessions
    val stepMs = size.hrStepSec * 1000L
    val flatStarts = Seq(1, 3, 7, 9).map(h =>
      Day0Ms + h * HourMs + (rng.nextInt(20) + 5) * MinuteMs)
    val flatlines = flatStarts.map { s =>
      val t0 = s - s % stepMs
      Win(t0, t0 + (21 + rng.nextInt(15)) * stepMs)
    }
    val outOfRange = ArrayBuffer.empty[(String, Long, Double)]
    def planted(kind: String, t: Long, v: Double): Double = {
      outOfRange += ((kind, t, v)); v
    }

    // vitals on the hr grid
    var hr = 72.0
    var t = Day0Ms
    val end = Day0Ms + 24 * HourMs
    while (t < end) {
      val asleep = night.contains(t)
      val flat = flatlines.find(_.contains(t))
      hr = flat match {
        case Some(_) => 77.0
        case None =>
          val target = if (asleep) 58.0 else if (vig.contains(t)) 135.0
            else 74.0
          val drift = math.signum(target - hr) * (if (rng.nextInt(3) == 0) 1 else 0)
          math.max(52.0, hr + drift + (rng.nextInt(5) - 2))
      }
      val onMinute = t % MinuteMs == 0
      val onFive = t % (5 * MinuteMs) == 0
      val inFlat = flat.isDefined
      val hrOut =
        if (!inFlat && !asleep && rng.nextInt(900) == 0)
          planted("hr", t, 30.0 + rng.nextInt(15)) else hr
      emit(t, "hr", if (rng.nextBoolean()) fmt(hrOut) else s"[${fmt(hrOut)}]")
      if (onMinute) {
        emit(t, "hr current", fmt(hr))
        val ppg = Array.fill(25)(1000 + rng.nextInt(200)).mkString("[", ", ", "]")
        emit(t, "ppg", ppg)
      }
      if (onFive) {
        val bad = !inFlat && !asleep && rng.nextInt(40) == 0
        val spo2 = if (bad) planted("spo2", t, 60.0 + rng.nextInt(15))
          else 94.0 + rng.nextInt(6)
        emit(t, "spo2", s"[${fmt(spo2)}]")
        val st = 36.0 + rng.nextInt(12) / 10.0
        emit(t, "st", fmt(st))
        val sys = 110.0 + rng.nextInt(16)
        val dia = if (!inFlat && !asleep && rng.nextInt(40) == 0)
          planted("bp_dia", t, 40.0 + rng.nextInt(15)) else 70.0 + rng.nextInt(12)
        emit(t, "bp", s"[${fmt(sys)}, ${fmt(dia)}]")
        val step = if (asleep) 0 else if (vig.contains(t)) 150 + rng.nextInt(60)
          else rng.nextInt(80)
        emit(t, "activity",
          s"[$step, ${rng.nextInt(40)}, ${if (asleep) 3 else 0}, ${if (asleep) 2 else 0}, 0]")
        // cumulative sleep counter: minutes asleep since the night began
        if (t > night.startMs && t <= night.endMs)
          emit(t, "sleep_total", s"[${(t - night.startMs) / MinuteMs}]")
      }
      if (t % (30 * MinuteMs) == 0)
        emit(t, "multi measure",
          s"[${fmt(hr)}, ${94 + rng.nextInt(6)}, [${115 + rng.nextInt(10)}, ${72 + rng.nextInt(8)}], ${fmt(36.5)}]")
      t += stepMs
    }

    // accelerometer sessions: quiet sleep, quiet awake rest, vigorous
    def accSession(start: Long, sample: () => (Double, Double, Double)): Unit = {
      val n = size.accMinutes * 120 - 2
      var i = 0
      while (i < n) {
        val nominal = start + 1000L + i * 500L
        val payloads = Array.fill(3)(new StringBuilder("["))
        var k = 0
        while (k < 5) {
          val (x, y, z) = sample()
          if (k > 0) payloads.foreach(_.append(", "))
          payloads(0).append(fmt(x)); payloads(1).append(fmt(y))
          payloads(2).append(fmt(z))
          k += 1
        }
        val skewAxis = if (rng.nextInt(500) == 0) rng.nextInt(3) else -1
        Seq("acx", "acy", "acz").zipWithIndex.foreach { case (kind, a) =>
          if (rng.nextInt(100) != 0) {
            val jitter = rng.nextInt(81) - 40
            val skew = if (a == skewAxis) 600 else 0
            emit(nominal + jitter + skew, kind, payloads(a).append("]").toString)
          }
        }
        i += 1
      }
    }
    def quiet(noisePct: Int)(): (Double, Double, Double) = {
      val r = rng.nextInt(100)
      if (r < noisePct / 2) (0.0, 0.0, 0.99)
      else if (r < noisePct) (0.0, 0.0, 1.01)
      else (0.0, 0.0, 1.0)
    }
    def vigorous(): (Double, Double, Double) =
      (rng.nextDouble() * 2 - 1, rng.nextDouble() * 2 - 1,
        0.5 + rng.nextDouble() * 1.5)
    accSession(sleepSession, quiet(2) _)
    accSession(restSession, quiet(3) _)
    accSession(vig.startMs, vigorous _)

    Files.createDirectories(dir)
    var bytes = 0L
    var files = 0
    hours.indices.foreach { h =>
      if (counts(h) > 0) {
        val stamp = java.time.Instant.ofEpochMilli(Day0Ms + h * HourMs)
          .toString.replace("T", " ").replace(":", "-").take(19)
        val date = stamp.take(10)
        val body = hours(h).append("\n]\n").toString.getBytes(UTF_8)
        Files.write(dir.resolve(s"${device}_$date $stamp.json"), body)
        bytes += body.length; files += 1
      }
    }
    val truth = SubjectTruth(name, dir.toString,
      CorpusStats(files, counts.map(_.toLong).sum, bytes),
      Seq(night), Seq(vig), flatlines, outOfRange.toSeq)
    // beside the upload directory, never in it: the reader takes every
    // *.json file there as watch data
    Files.write(dir.resolveSibling(s"$name.truth.json"),
      truth.json.getBytes(UTF_8))
    truth
  }

  /** A document corpus with planted curation facts. Ids are assigned
    * here; `splitOf` tells which ids the library's split sends to test. */
  final case class Doc(id: Long, text: String)
  final case class CorpusTruth(
      clean: Set[Long],
      dupGroups: Seq[Set[Long]],
      dropped: Map[String, Set[Long]]) {
    def json: String = Json.obj(Seq(
      "clean" -> clean.toSeq.sorted,
      "dup_groups" -> dupGroups.map(_.toSeq.sorted),
      "dropped" -> dropped.map { case (k, v) => k -> v.toSeq.sorted }))
  }

  final case class DocsSize(clean: Int, exactGroups: Int, nearGroups: Int,
                            lowQuality: Int, nonEnglish: Int,
                            contaminated: Int)

  private val Stop = Array("the", "a", "and", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "from", "this", "was")
  private val Foreign = Array("der", "die", "das", "und", "nicht", "mit",
    "auf", "ist", "ein", "eine", "zu", "den", "von", "sich", "auch")

  private def vocab(rng: SplittableRandom, n: Int): Array[String] = {
    val letters = "bcdfgklmnprstvwz"
    val vowels = "aeiou"
    Array.fill(n) {
      val syll = 2 + rng.nextInt(2)
      (0 until syll).map(_ => s"${letters(rng.nextInt(letters.length))}" +
        s"${vowels(rng.nextInt(vowels.length))}").mkString
    }
  }

  def docCorpus(seed: Long, size: DocsSize, splitOf: Seq[Long] => Map[Long, String])
      : (Seq[Doc], CorpusTruth) = {
    val rng = new SplittableRandom(seed)
    val words = vocab(rng, 3000)
    def english(n: Int): Array[String] = Array.fill(n)(
      if (rng.nextInt(10) < 4) Stop(rng.nextInt(Stop.length))
      else words(rng.nextInt(words.length)))
    var nextId = 1000L + rng.nextInt(1000)
    def id(): Long = { nextId += 1 + rng.nextInt(3); nextId }
    val docs = ArrayBuffer.empty[Doc]

    // clean docs first, so the planted leaks can copy from test docs
    val cleanDocs = (0 until size.clean).map(_ =>
      Doc(id(), english(100 + rng.nextInt(60)).mkString(" ")))
    docs ++= cleanDocs
    val dupGroups = ArrayBuffer.empty[Set[Long]]
    (0 until size.exactGroups).foreach { _ =>
      val base = english(110).mkString(" ")
      val copies = (0 to 1 + rng.nextInt(2)).map { c =>
        // case and whitespace variants share one normalized fingerprint
        val text = c match {
          case 0 => base
          case 1 => base.toUpperCase
          case _ => base.replace(" the ", "  the ")
        }
        Doc(id(), text)
      }
      docs ++= copies; dupGroups += copies.map(_.id).toSet
    }
    (0 until size.nearGroups).foreach { _ =>
      val base = english(140)
      val copies = (0 to 1 + rng.nextInt(2)).map { c =>
        val w = base.clone()
        if (c > 0) (0 until 2).foreach(_ =>
          w(5 + rng.nextInt(w.length - 10)) = words(rng.nextInt(words.length)))
        Doc(id(), w.mkString(" "))
      }
      docs ++= copies; dupGroups += copies.map(_.id).toSet
    }
    val lowQ = (0 until size.lowQuality).map { _ =>
      val toks = Array.fill(16)(Seq("!!", "##", "$$", "%%", "&&", "**")(rng.nextInt(6)))
      toks(3) = "the"; toks(9) = "of"
      Doc(id(), toks.mkString(" "))
    }
    val foreign = (0 until size.nonEnglish).map(_ => Doc(id(),
      Array.fill(120)(if (rng.nextInt(10) < 4) Foreign(rng.nextInt(Foreign.length))
        else words(rng.nextInt(words.length))).mkString(" ")))
    docs ++= lowQ ++ foreign

    // train docs that leak a test doc: a copied 12-word span, or a
    // paraphrase with one word in nine replaced
    val split = splitOf(cleanDocs.map(_.id))
    val testDocs = cleanDocs.filter(d => split(d.id) == "test")
    require(testDocs.size >= size.contaminated,
      s"only ${testDocs.size} test docs for ${size.contaminated} leaks")
    val candidateIds = Iterator.continually(id()).take(size.contaminated * 8).toSeq
    val trainIds = splitOf(candidateIds).filter(_._2 == "train").keys.toSeq.sorted
    require(trainIds.size >= size.contaminated)
    val leaks = testDocs.take(size.contaminated).zip(trainIds).zipWithIndex.map {
      case ((src, lid), i) =>
        val sw = src.text.split(" ")
        val text =
          if (i % 2 == 0) {
            val at = rng.nextInt(sw.length - 12)
            (english(50) ++ sw.slice(at, at + 12) ++ english(50)).mkString(" ")
          } else sw.zipWithIndex.map { case (w, j) =>
            if (j % 9 == 4) words(rng.nextInt(words.length)) else w
          }.mkString(" ")
        Doc(lid, text)
    }
    docs ++= leaks
    val ordered = docs.sortBy(_.id).toSeq
    require(ordered.map(_.id).distinct.size == ordered.size)
    (ordered, CorpusTruth(cleanDocs.map(_.id).toSet, dupGroups.toSeq,
      Map("low_quality" -> lowQ.map(_.id).toSet,
        "non_english" -> foreign.map(_.id).toSet,
        "test_overlap" -> leaks.map(_.id).toSet)))
  }
}
