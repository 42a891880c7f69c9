package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._

/** The session factory, the dev harness and Verify's argument check. */
class DevSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** `Dev.run`'s printed report. */
  private def dev(args: String*): String = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(Dev.run(spark, args))
    out.toString("UTF-8")
  }

  private lazy val replica: Path = {
    val out = Files.createTempDirectory("graft_replica").resolve("sf")
    dev("replicate", sf, "2", out.toString)
    out
  }

  test("Sessions.local hands a main the running TestSession: UTC, 4 " +
    "shuffle partitions, no UI") {
    assert(Sessions.local("graft-dev-spec") eq spark)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("Verify: an unknown query name fails before anything runs") {
    val out = Files.createTempDirectory("graft_verify")
    val e = intercept[IllegalArgumentException](
      Verify.main(Array(sf, out.toString, "q01_no_such_query")))
    assert(e.getMessage.contains("q01_no_such_query"))
    assert(out.toFile.list().isEmpty)
    assert(!spark.sparkContext.isStopped)
  }

  test("Dev replicate: K = 2 doubles documents with unique ids and the " +
    "replica token; other tables are copied unchanged") {
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val docs = spark.read.parquet(s"$replica/documents.parquet")
    val n = base.count()
    assert(docs.columns.toSeq == base.columns.toSeq)
    assert(docs.count() == 2 * n)
    assert(docs.select("doc_id").distinct().count() == 2 * n)
    assert(docs.filter(col("text").endsWith(" replica1")).count() == n)
    assert(Files.mismatch(Paths.get(sf, "region.parquet"),
      replica.resolve("region.parquet")) == -1L)
  }

  test("Dev profile: one row per directory and the last/first ratio") {
    val out = dev("profile", "q01_range_filter", "1", sf, replica.toString)
    assert(out.linesIterator.count(l =>
      l.startsWith("[profile] q01_range_filter") && l.contains("jobs=")) == 2,
      out)
    assert(out.linesIterator.exists(
      _.matches("""\[ratio\] q01_range_filter .* last/first=\d+\.\d\d""")),
      out)
  }

  test("Dev plan: prints the query's physical plan") {
    val out = dev("plan", "q01_range_filter")
    assert(out.contains("== Physical Plan =="), out)
  }

  test("Dev: an unknown command fails and prints the usage") {
    val out = new ByteArrayOutputStream()
    intercept[IllegalArgumentException](
      Console.withOut(out)(Dev.run(spark, Seq("bogus"))))
    assert(out.toString("UTF-8").contains(Dev.usage))
  }
}
