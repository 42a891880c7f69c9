package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a graft main or test decides how its session is built. */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else the host's processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The running session, untouched, if there is one (a main called from
    * a spec). Else a new one on `local[cpus]` unless `spark.master` is
    * already set (spark-submit), with `cpus` shuffle partitions, the UTC
    * session time zone, no UI and WARN logging. */
  def local(appName: String, cpus: Int = Sessions.cpus): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .getOrElse {
        val b = SparkSession.builder().appName(appName)
          .config("spark.sql.shuffle.partitions", cpus.toString)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
        val s = (if (new SparkConf().contains("spark.master")) b
                 else b.master(s"local[$cpus]")).getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
      }
}
