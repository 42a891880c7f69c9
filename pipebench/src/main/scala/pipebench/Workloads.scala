package pipebench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.io.Writers
import graft.ops.Filters
import graft.pipeline.Pipelines
import graft.text.TextOps

/** One unit of measured work: one subject run or one curate run. */
trait Job {
  def name: String
  def stats: CorpusStats
  def run(t: Tracer, out: Path): Unit
  def check(out: Path): Seq[String]
  /** Corrupted copies of this job's checked output that the check failed
    * to catch (empty when every corruption is caught). */
  def selfTest(out: Path): Seq[String]
}

/** `timedUnits` is the fewest untraced units a run measures; the lowest
  * times over them are the result. */
abstract class Workload(val name: String, val why: String,
                        val timedUnits: Int) {
  /** Generates the inputs for `seed` under `dir`. `warm` asks for the
    * smaller warm-up corpus. */
  def generate(spark: SparkSession, dir: Path, seed: Long,
               warm: Boolean): Seq[Job]
}

object Workloads {

  /** Every stage any workload opens a span for, in pipeline order. */
  val Stages = Seq("reformat", "acc", "filter", "categorize", "curate")

  val all: Seq[Workload] = Seq(CohortStaged, CurateCorpus)

  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Workloads planned for this benchmark that it does not run, and why. */
  val dropped: Map[String, String] = Map(
    "cohort_lazy" -> ("one lazily chained subject-day of ~8k raw records " +
      "took 64 s in a fresh JVM on a 4-core host (each of its ~22 jobs " +
      "re-reads the raw JSON), so its runs do not fit the benchmark's time " +
      "budget"),
    "vitals_dense" -> ("dropped to fit the benchmark's time budget; its " +
      "layers (Filters, Windows, Intervals) are measured by the filter and " +
      "categorize stages of cohort_staged"))

  private def p(dir: Path, leaf: String): String = dir.resolve(leaf).toString

  private def measurementRows(spark: SparkSession, path: String)
      : Seq[Checks.Row] =
    spark.read.parquet(path)
      .filter(col("kind").isin(("hr" +: Filters.VitalRanges.keys.toSeq): _*))
      .select(col("kind"), unix_millis(col("date_time")), col("data"))
      .collect().toSeq
      .map(r => Checks.Row(r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))

  private def intervals(spark: SparkSession, path: String)
      : Seq[Checks.Interval] =
    spark.read.parquet(path)
      .select(unix_millis(col("start_time")), unix_millis(col("end_time")),
        col("category"))
      .collect().toSeq
      .map(r => Checks.Interval(r.getLong(0), r.getLong(1), r.getString(2)))

  object CohortStaged extends Workload("cohort_staged",
    "raw watch JSON through four stages with parquet hand-offs: every " +
      "sensor layer runs; reformat and categorize take most of the time",
    // the first unit after the warm-up still runs partly unJITted code
    // (2-6 s slower than the next on 4 cores), so two units are timed
    timedUnits = 2) {
    def generate(spark: SparkSession, dir: Path, seed: Long,
                 warm: Boolean): Seq[Job] =
      (0 until (if (warm) 1 else 2)).map { i =>
        val truth = Gen.rawSubjectDay(dir.resolve(s"subject_$i"),
          s"subject_$i", seed * 1000003L + i,
          // ~8k records warm (a cold unit costs ~30 s whatever its size),
          // ~16k measured, so parsing weighs more against per-job overhead
          if (warm) Gen.RawSize(120, 5) else Gen.RawSize(60, 10))
        new Job {
          def name: String = truth.name
          def stats: CorpusStats = truth.stats
          def run(t: Tracer, out: Path): Unit = {
            t.stage("reformat") {
              val r = t.build(Pipelines.reformat(spark, truth.input))
              Writers.parquet(r.measurements, p(out, "measurements"))
              Writers.parquet(r.ppg, p(out, "ppg"))
              Writers.parquet(r.ac, p(out, "ac"))
            }
            t.stage("acc") {
              val ac = spark.read.parquet(p(out, "ac"))
              Writers.parquet(t.build(Pipelines.accReformat(ac, Nil)),
                p(out, "acc"))
            }
            t.stage("filter") {
              val m = spark.read.parquet(p(out, "measurements"))
              Writers.parquet(t.build(Pipelines.filterNoise(m)),
                p(out, "filtered"))
            }
            t.stage("categorize") {
              val c = t.build(Pipelines.categorizeFull(
                spark.read.parquet(p(out, "filtered")),
                spark.read.parquet(p(out, "acc"))))
              Writers.parquet(c.categorizedAcc, p(out, "acc_category"))
              Writers.parquet(c.timeline, p(out, "timeline"))
            }
          }
          def check(out: Path): Seq[String] =
            Checks.filtered(measurementRows(spark, p(out, "filtered")), truth,
              Filters.VitalRanges) ++
              Checks.timeline(intervals(spark, p(out, "timeline")), truth)
          def selfTest(out: Path): Seq[String] =
            Checks.selfTestSensor(measurementRows(spark, p(out, "filtered")),
              intervals(spark, p(out, "timeline")), truth, Filters.VitalRanges)
        }
      }
  }

  object CurateCorpus extends Workload("curate_corpus",
    "a document corpus through curate with near-dup and fuzzy " +
      "decontamination: text, dedup and functions do all the work",
    timedUnits = 1) {
    def generate(spark: SparkSession, dir: Path, seed: Long,
                 warm: Boolean): Seq[Job] = {
      import spark.implicits._
      val size =
        if (warm) Gen.DocsSize(300, 10, 10, 10, 10, 5)
        else Gen.DocsSize(1500, 60, 60, 50, 50, 20)
      def splitOf(ids: Seq[Long]): Map[Long, String] =
        ids.toDF("doc_id")
          .select(col("doc_id"), TextOps.hashSplit(col("doc_id")))
          .as[(Long, String)].collect().toMap
      val (docs, truth) = Gen.docCorpus(seed, size, splitOf)
      val in = p(dir, "docs")
      docs.toDF("doc_id", "text")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(1).write.parquet(in)
      Files.write(dir.resolve("truth.json"), truth.json.getBytes("UTF-8"))
      val bytes = Files.walk(dir.resolve("docs"))
        .filter(_.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum()
      val st = CorpusStats(1, docs.size.toLong, bytes)
      def keptIds(out: Path): Seq[Long] =
        spark.read.parquet(p(out, "curated")).select("doc_id")
          .as[Long].collect().toSeq
      Seq(new Job {
        def name: String = "corpus"
        def stats: CorpusStats = st
        def run(t: Tracer, out: Path): Unit = t.stage("curate") {
          val docsIn = spark.read.parquet(in)
          Writers.parquet(t.build(Pipelines.curate(docsIn,
            fuzzyDecontaminate = true)), p(out, "curated"))
        }
        def check(out: Path): Seq[String] = Checks.curated(keptIds(out), truth)
        def selfTest(out: Path): Seq[String] =
          Checks.selfTestCurated(keptIds(out), truth)
      })
    }
  }
}
