package pipebench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Opens a span around each stage call of a workload and, inside it, a
  * child span around the library call that builds the stage's frames. */
trait Tracer {
  def stage[T](name: String)(body: => T): T
  def build[T](body: => T): T
}

/** Untraced runs: no spans, no listener, no job properties. */
object NoTrace extends Tracer {
  def stage[T](name: String)(body: => T): T = body
  def build[T](body: => T): T = body
}

/** Untraced runs that still note each stage's wall time, for the run
  * report: only two clock reads per stage. */
final class StageClock extends Tracer {
  val walls = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def stage[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally walls(name) = walls.getOrElse(name, 0.0) +
      (System.nanoTime() - t0) / 1e9
  }
  def build[T](body: => T): T = body
}

final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, var endNs: Long = -1L) {
  def durNs: Long = endNs - startNs
}

/** Spark counters summed over every task of every job a stage fired. */
final class Counters {
  var jobs, buildJobs, tasks, taskCpuNs, taskRunMs, shuffleBytes,
    spillBytes, gcMs, rowsOut, bytesOut = 0L
}

/** The traced run's tracer. It keeps spans in memory and registers itself
  * as a listener: each job carries the open stage (and whether the library
  * call was still building) as local properties, and each task's metrics
  * are added to the stage that fired its job.
  *
  * Input bytes are the sizes of the files each file scan lists (the SQL
  * metric "size of files read"), summed over the SQL executions whose jobs
  * a stage fired: the input metrics of whole-file JSON and vectorized
  * parquet tasks do not count file bytes. */
final class SparkTracer(sc: SparkContext, runId: String)
    extends SparkListener with Tracer {

  private val StageKey = "pipebench.stage"
  private val PhaseKey = "pipebench.phase"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val stageOfSparkStage = mutable.Map.empty[Int, String]
  private val stageOfExecution = mutable.Map.empty[Long, String]
  private val scanSizeAccums = mutable.Set.empty[Long]
  private val scanSizes = mutable.Map.empty[(Long, Long), Long]
  private val counters = mutable.LinkedHashMap.empty[String, Counters]

  private def within[T](name: String, props: Seq[(String, String)])(
      body: => T): T = {
    val span = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      runId, System.nanoTime())
    spans += span
    open = span :: open
    val saved = props.map { case (k, _) => k -> sc.getLocalProperty(k) }
    props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    try body
    finally {
      span.endNs = System.nanoTime()
      open = open.tail
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  def op[T](body: => T): T = within("op", Nil)(body)

  def stage[T](name: String)(body: => T): T = {
    counters.synchronized(counters.getOrElseUpdate(name, new Counters))
    within(name, Seq(StageKey -> name, PhaseKey -> "run"))(body)
  }

  def build[T](body: => T): T = {
    val stage = open.headOption.map(_.name).getOrElse("op")
    within(s"$stage.build", Seq(PhaseKey -> "build"))(body)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val stage = Option(e.properties).map(_.getProperty(StageKey)).orNull
    if (stage != null) counters.synchronized {
      val c = counters.getOrElseUpdate(stage, new Counters)
      c.jobs += 1
      if (e.properties.getProperty(PhaseKey) == "build") c.buildJobs += 1
      e.stageIds.foreach(id => stageOfSparkStage(id) = stage)
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(id => stageOfExecution(id.toLong) = stage)
    }
  }

  private def trackScans(plan: SparkPlanInfo): Unit = {
    plan.metrics.filter(_.name == "size of files read")
      .foreach(scanSizeAccums += _.accumulatorId)
    plan.children.foreach(trackScans)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = counters.synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => trackScans(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => trackScans(u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) =>
          if (scanSizeAccums(id)) scanSizes((d.executionId, id)) = v }
      case _ =>
    }
  }

  /** Bytes of the files the scans of `stage`'s SQL executions listed. */
  def inputBytes(stage: String): Long = counters.synchronized {
    scanSizes.collect { case ((exec, _), v)
      if stageOfExecution.get(exec).contains(stage) => v }.sum
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = counters.synchronized {
    for (stage <- stageOfSparkStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(stage)
      c.tasks += 1
      c.taskCpuNs += m.executorCpuTime
      c.taskRunMs += m.executorRunTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
      c.rowsOut += m.outputMetrics.recordsWritten
      c.bytesOut += m.outputMetrics.bytesWritten
    }
  }

  /** Time a span covers minus the time its child spans cover. */
  def selfNs(s: Span): Long =
    s.durNs - spans.filter(_.parent == s.id).map(_.durNs).sum

  /** Per-stage metrics, named `<stage>.<metric>`, for every stage in
    * `stages`; a stage the workload does not run reads 0. */
  def metrics(stages: Seq[String], cores: Int): Seq[(String, Double, String)] = {
    org.apache.spark.pipebench.Bus.drain(sc)
    counters.synchronized {
      stages.flatMap { st =>
        val c = counters.getOrElse(st, new Counters)
        val wallNs = spans.filter(_.name == st).map(_.durNs).sum
        val buildNs = spans.filter(_.name == s"$st.build").map(_.durNs).sum
        val wall = wallNs / 1e9
        Seq(
          ("wall_s", wall, "s"),
          ("build_s", buildNs / 1e9, "s"),
          ("build_jobs", c.buildJobs.toDouble, "count"),
          ("jobs", c.jobs.toDouble, "count"),
          ("tasks", c.tasks.toDouble, "count"),
          ("task_cpu_s", c.taskCpuNs / 1e9, "s"),
          ("idle_core_s", cores * wall - c.taskRunMs / 1e3, "s"),
          ("input_bytes", inputBytes(st).toDouble, "bytes"),
          ("shuffle_bytes", c.shuffleBytes.toDouble, "bytes"),
          ("spill_bytes", c.spillBytes.toDouble, "bytes"),
          ("gc_s", c.gcMs / 1e3, "s"),
          ("rows_out", c.rowsOut.toDouble, "count"),
          ("bytes_out", c.bytesOut.toDouble, "bytes")
        ).map { case (m, v, u) => (s"$st.$m", v, u) }
      }
    }
  }

  def spansJson: String = spans.map { s =>
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "run_id" -> s.runId, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_ns" -> selfNs(s)))
  }.mkString("[\n", ",\n", "\n]\n")
}
