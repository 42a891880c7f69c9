package pipebench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** The paper-pipeline benchmark: one workload, one seed, one JVM.
  *
  *   pipebench.Main --workload <name> --seed <n> --seconds <s>
  *                  --trace <0|1> --work <dir>
  *
  * Set-up (session, input generation and warm-up on a corpus from another
  * seed) runs first and is reported as `setup_s`. Then untraced runs of
  * one subject (or one curate pass) at a time repeat for `--seconds`, and
  * at least the workload's `timedUnits` times, each followed by its output
  * check; the end-to-end times are the lowest over these units.
  * With `--trace 1` one more run is traced and the per-stage metrics are
  * reported instead. The last line of stdout is the result object. */
object Main {

  /** No measured run starts later than this after JVM start. */
  val LastStartS = 120.0
  /** The warm-up corpus comes from a different seed than the measured one. */
  val WarmSalt = 0x5eedL

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Peak heap in use after a collection. Unlike the raw peak, which
    * mostly shows how far the young generation filled before a collection,
    * it follows the data a run keeps alive, such as cached frames. */
  private object HeapMeter extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile private var peak = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[NotificationEmitter].addNotificationListener(this, null, null))

    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }

    def reset(): Unit = synchronized { peak = 0L }
    /** MB; the heap in use now when no collection ran since `reset`. */
    def peakMb: Double = synchronized {
      val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      (if (peak > 0) peak else now) / 1048576.0
    }
  }

  /** (all, steal) CPU ticks so far, from which a run reports the share of
    * CPU time a hypervisor gave to other guests (Linux only). */
  private def cpuTicks(): Option[(Long, Long)] = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) None
    else {
      val t = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1)
        .map(_.toLong)
      Some((t.sum, if (t.length > 7) t(7) else 0L))
    }
  }

  /** Milliseconds the JIT compilers and the collectors have run so far. */
  private def jitMs: Long = ManagementFactory.getCompilationMXBean
    .getTotalCompilationTime
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  final case class Sample(wallS: Double, cpuS: Double, peakHeapMb: Double,
                          records: Long, stageWalls: Map[String, Double],
                          jitS: Double, gcS: Double)

  /** Runs one job untraced and measures it; the output check is not
    * timed. Returns the sample and the problems the check found. */
  private def measured(job: Job, out: Path): (Option[Sample], Seq[String]) =
    try {
      // every run starts from a collected heap, so the post-collection
      // peak does not depend on the garbage earlier runs left behind
      System.gc()
      HeapMeter.reset()
      val cpu0 = cpuBean.getProcessCpuTime
      val clock = new StageClock
      val jit0 = jitMs
      val gc0 = gcMs
      val t0 = System.nanoTime()
      job.run(clock, out)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      val heap = HeapMeter.peakMb
      (Some(Sample(wall, cpu, heap, job.stats.records, clock.walls.toMap,
        (jitMs - jit0) / 1e3, (gcMs - gc0) / 1e3)),
        job.check(out))
    } catch {
      case e: Exception => (None, Seq(s"${job.name}: ${e.getClass.getName}: ${e.getMessage}"))
    } finally deleteTree(out)

  private def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder().appName("pipebench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, {
      System.err.println(s"missing $k"); sys.exit(2)
    })
    val workload = Workloads.byName(opt("--workload")).getOrElse {
      val name = opt("--workload")
      System.err.println(Workloads.dropped.get(name)
        .map(why => s"workload $name is not run: $why")
        .getOrElse(s"unknown workload $name; one of " +
          Workloads.all.map(_.name).mkString(", ")))
      sys.exit(2)
    }
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val traced = opt("--trace") == "1"
    val work = Paths.get(opt("--work")).toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()
    def sinceStart = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val spark = session(work, cores)
    val sessionS = sinceStart
    val problems = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0

    // set-up: inputs, then warm-up runs on the other seed's corpus, each
    // checked, and the self-test on the first warm-up output
    val warmJobs = workload.generate(spark, work.resolve("warm"),
      seed ^ WarmSalt, warm = true)
    val jobs = workload.generate(spark, work.resolve("input"), seed,
      warm = false)
    val generatedS = sinceStart
    val warmOut = work.resolve("out").resolve("warm")
    warmJobs.zipWithIndex.foreach { case (j, i) =>
      val out = warmOut.resolve(s"w$i")
      try {
        j.run(NoTrace, out)
        problems ++= j.check(out).map("warm-up " + _)
        if (i == 0) problems ++= j.selfTest(out).map("self-test missed " + _)
      } catch {
        case e: Exception => problems += s"warm-up ${j.name}: $e"
      } finally deleteTree(out)
    }
    val setupS = sinceStart

    // measured runs: subjects one at a time from this thread
    val samples = ArrayBuffer.empty[Sample]
    val ticks0 = cpuTicks()
    val t0 = System.nanoTime()
    var i = 0
    while ((i < workload.timedUnits ||
        (System.nanoTime() - t0) / 1e9 < seconds) &&
        sinceStart < LastStartS) {
      val job = jobs(i % jobs.size)
      attempted += 1
      val (s, p) = measured(job, work.resolve("out").resolve(s"op$i"))
      s.foreach(samples += _)
      if (s.isEmpty || p.nonEmpty) failed += 1
      problems ++= p
      i += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val stealPct = for ((all0, st0) <- ticks0; (all1, st1) <- cpuTicks()
                        if all1 > all0) yield 100.0 * (st1 - st0) / (all1 - all0)
    // times are the lowest over the units: the first unit after the
    // warm-up still runs partly unJITted code, and a shared host only adds
    // time. The heap is the highest post-collection peak of any unit.
    def lowest(f: Sample => Double) = samples.map(f).minOption
      .getOrElse(Double.NaN)
    val wall = lowest(_.wallS)
    val endToEnd = Seq(
      ("wall_s", wall, "s"),
      ("records_per_s", samples.map(s => s.records / s.wallS).maxOption
        .getOrElse(Double.NaN), "rec/s"),
      ("cpu_s", lowest(_.cpuS), "s"),
      ("peak_heap_mb", samples.map(_.peakHeapMb).maxOption
        .getOrElse(Double.NaN), "MB"),
      ("setup_s", setupS, "s"))

    // traced run: one more subject with the listener and spans on
    val layer = if (!traced) Nil else {
      val job = jobs.head
      val tracer = new SparkTracer(spark.sparkContext,
        s"${workload.name}-$seed")
      spark.sparkContext.addSparkListener(tracer)
      val out = work.resolve("out").resolve("traced")
      var tracedWall = Double.NaN
      val p = try {
        val t = System.nanoTime()
        tracer.op(job.run(tracer, out))
        tracedWall = (System.nanoTime() - t) / 1e9
        job.check(out)
      } catch {
        case e: Exception => Seq(s"traced ${job.name}: $e")
      } finally deleteTree(out)
      attempted += 1
      if (p.nonEmpty) failed += 1
      problems ++= p
      val stages = tracer.metrics(Workloads.Stages, cores)
      spark.sparkContext.removeSparkListener(tracer)
      Files.write(work.resolve("spans.json"), tracer.spansJson.getBytes("UTF-8"))
      val raw = job.stats.bytes.toDouble
      stages ++ Seq(
        ("reformat.scan_amplification", tracer.inputBytes("reformat") / raw, "ratio"),
        ("traced_wall_s", tracedWall, "s"),
        ("tracing_overhead_s", tracedWall - wall, "s"))
    }

    val cohort = jobs.map(_.stats)
    val info = Seq(
      "workload" -> workload.name, "why" -> workload.why, "seed" -> seed,
      "traced" -> traced,
      "nproc" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "input_units" -> jobs.size,
      "input_files" -> cohort.map(_.files).sum,
      "input_records" -> cohort.map(_.records).sum,
      "input_bytes" -> cohort.map(_.bytes).sum,
      "records_per_unit" -> cohort.map(_.records),
      "session_s" -> sessionS, "generated_s" -> generatedS,
      "measured_s" -> measuredS,
      "run_walls_s" -> samples.map(_.wallS).toSeq,
      "run_peak_heap_mb" -> samples.map(_.peakHeapMb).toSeq,
      "run_stage_walls_s" -> samples.map(_.stageWalls).toSeq,
      "run_jit_s" -> samples.map(_.jitS).toSeq,
      "run_gc_s" -> samples.map(_.gcS).toSeq,
      "cpu_steal_pct" -> stealPct.getOrElse(Double.NaN),
      "problems" -> problems.take(20).toSeq)
    println("pipebench " + Json.obj(info))
    (if (traced) layer else endToEnd).foreach { case (n, v, u) =>
      println(f"  $n%-34s $v%16.4f $u")
    }
    spark.stop()
    val metrics = (if (traced) layer else endToEnd).map { case (n, v, u) =>
      n -> Map("value" -> v, "unit" -> u)
    }
    println(Json.obj(Seq(
      "correct" -> (problems.isEmpty && failed == 0 && samples.nonEmpty),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.toMap)))
  }
}
