package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bus

/** Dev harness over the declared queries; not part of the driver contract
  * (`Bench` stays the reported number). `sbt "runMain graft.Dev <cmd>"`.
  *
  * `profile` separates Spark's fixed per-job cost from compute: at the
  * test scale factors a query's seconds follow its job, stage and task
  * counts, not its bytes. Its ratio over a `replicate`d directory is the
  * scaling check: near K for K replicas is linear, above K flags an
  * operator with a hidden pair blow-up. The replicas append a token to
  * each document, so every near-dup query sees a denser duplicate set. */
object Dev {

  val usage: String =
    """graft.Dev <command>
      |  plan <q,...>                         formatted physical plans over
      |                                       $SPARK_GRAFT_SF_DIR (default sf0.01)
      |  profile <q,...|all> [reps] <sfDir>...
      |      per query and directory: the fastest of `reps` (default 1) runs
      |      after one warm-up, with its jobs, stages, tasks and shuffle
      |      bytes; with two or more directories also the last/first ratio
      |  replicate <sfDir> <K> <outDir>       K copies of every table as
      |      parquet: documents, embeddings and events with offset ids""".stripMargin

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("graft-dev")
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Runs one command on `spark` and prints its report; an unknown command
    * prints the usage and fails. */
  def run(spark: SparkSession, args: Seq[String]): Unit = args match {
    case Seq("plan", names) =>
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
        "/root/testdata/sf0.01")
      declared(names).foreach { n =>
        println(s"\n========== $n ==========")
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
    case Seq("profile", names, rest @ _*)
        if rest.exists(!_.matches("[0-9]+")) =>
      val (reps, dirs) =
        if (rest.head.matches("[0-9]+")) (rest.head.toInt, rest.tail)
        else (1, rest)
      require(reps > 0, "profile: reps must be at least 1")
      profile(spark, declared(names), reps, dirs)
    case Seq("replicate", sfDir, k, outDir) if k.matches("[1-9][0-9]*") =>
      replicate(spark, sfDir, k.toInt, outDir)
    case _ =>
      println(usage)
      throw new IllegalArgumentException(
        s"graft.Dev: unknown command: ${args.mkString(" ")}")
  }

  private def declared(names: String): Seq[String] =
    if (names == "all") SparkEntry.queries.keys.toSeq.sorted
    else {
      val ns = names.split(",").toSeq
      SparkEntry.requireDeclared(ns)
      ns
    }

  /** Per-run Spark counters, read after the listener bus is drained. */
  private final class Counters extends SparkListener {
    @volatile var jobs, stages = 0
    @volatile var tasks, shuffleBytes = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += e.stageInfo.numTasks
      shuffleBytes += e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
    def line: String = f"jobs=$jobs%3d stages=$stages%3d tasks=$tasks%5d " +
      f"shufKB=${shuffleBytes / 1024}%7d"
  }

  private def profile(spark: SparkSession, names: Seq[String], reps: Int,
                      dirs: Seq[String]): Unit = {
    val sc = spark.sparkContext
    def once(name: String, dir: String): (Double, String) = {
      val c = new Counters
      Bus.drain(sc)
      sc.addSparkListener(c)
      try {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        Bus.drain(sc)
        (dt, c.line)
      } finally {
        sc.removeSparkListener(c)
        spark.catalog.clearCache() // operators cache self-join inputs
      }
    }
    names.foreach { n =>
      val walls = dirs.map { dir =>
        try {
          once(n, dir) // warm-up: codegen, footers
          val (dt, counts) = Seq.fill(reps)(once(n, dir)).minBy(_._1)
          println(f"[profile] $n%-28s $dt%7.3f s  $counts  $dir")
          dt
        } catch { case e: Exception =>
          println(s"[profile] $n FAILED on $dir: ${e.getMessage}")
          Double.NaN
        }
      }
      if (dirs.size > 1)
        println(f"[ratio] $n%-28s ${walls.head}%7.3f s -> ${walls.last}%7.3f s" +
          f"  last/first=${walls.last / walls.head}%.2f")
    }
  }

  private def replicate(spark: SparkSession, sfDir: String, k: Int,
                        outDir: String): Unit = {
    val src = Paths.get(sfDir)
    Files.createDirectories(Paths.get(outDir))
    Files.list(src).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted.foreach { file =>
        lazy val df = graft.io.Readers.table(spark, sfDir,
          file.stripSuffix(".parquet"))
        // replica r shifts an id column by r times its (max + 1)
        def shifter(c: String): (DataFrame, Int) => DataFrame = {
          val span = df.agg(max(c)).head().getLong(0) + 1
          (d, r) => d.withColumn(c, col(c) + lit(r * span))
        }
        val replica: Option[Int => DataFrame] = file match {
          case "documents.parquet" =>
            val ids = shifter("doc_id")
            Some(r => ids(df, r).withColumn("text", if (r == 0) col("text")
              else concat(col("text"), lit(s" replica$r"))))
          case "embeddings.parquet" =>
            val ids = shifter("vec_id")
            Some(r => ids(df, r).withColumn("embedding",
              transform(col("embedding"), x => x + lit(r * 0.001))
                .cast(df.schema("embedding").dataType)))
          case "events.parquet" =>
            val (users, events) = (shifter("user_id"), shifter("event_id"))
            Some(r => events(users(df, r), r))
          case _ => None
        }
        replica match {
          case Some(f) => (0 until k).map(f).reduce(_ union _)
            .write.mode("overwrite").parquet(s"$outDir/$file")
          case None => // copied unchanged, a file or a directory tree
            val from = src.resolve(file)
            Files.walk(from).iterator().asScala.foreach { p =>
              val to = Paths.get(outDir, file, from.relativize(p).toString)
              if (Files.isDirectory(p)) Files.createDirectories(to)
              else Files.copy(p, to, StandardCopyOption.REPLACE_EXISTING)
            }
        }
      }
  }
}
