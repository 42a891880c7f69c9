package graft

import java.io.FileOutputStream
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import graft.io.Archives

/** S6 zip ingest over synthetic archives, plus the corrupt-record-routing
  * JSONL scan (same io family). */
class ArchivesSpec extends SparkSpec {

  test("loadJsonlRouted splits good rows from quarantined raw lines") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_jsonl")
    Files.writeString(dir.resolve("feed.jsonl"),
      """{"id": 1, "text": "ok"}
        |{"id": 2 "text": "missing comma"}
        |{"id": 3, "text": "also ok"}
        |""".stripMargin)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    val (good, bad) =
      graft.io.Readers.loadJsonlRouted(spark, dir.toString, schema)
    assert(good.columns.toSeq == Seq("id", "text"))
    assert(good.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    val badLines = bad.collect().map(_.getString(0)).toSeq
    assert(badLines.size == 1 && badLines.head.contains("missing comma"))
  }

  test("zipEntries enumerates members; zipSummary counts per extension") {
    val dir = Files.createTempDirectory("graft_zip")
    val zout = new ZipOutputStream(
      new FileOutputStream(dir.resolve("upload.zip").toFile))
    def add(name: String, body: String): Unit = {
      zout.putNextEntry(new ZipEntry(name))
      zout.write(body.getBytes("UTF-8"))
      zout.closeEntry()
    }
    add("a/one.json", """{"k": 1}""")
    add("a/two.json", """{"k": 2}""")
    add("notes.txt", "hello")
    zout.close()

    val entries = Archives.zipEntries(spark, dir.toString).collect()
    assert(entries.length == 3)
    assert(entries.count(_.getAs[String]("ext") == ".json") == 2)
    assert(entries.find(_.getAs[String]("entry") == "notes.txt")
      .get.getAs[Long]("size") == 5L)

    val summary = Archives.zipSummary(spark, dir.toString).collect()
      .map(r => r.getAs[String]("ext") -> r.getAs[Long]("count")).toMap
    assert(summary == Map(".json" -> 2L, ".txt" -> 1L))
  }
}
