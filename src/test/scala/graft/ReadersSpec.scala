package graft

import java.nio.file.{Files, Path}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.io.Readers
import graft.model.Schemas
import graft.ops.{Normalize, TimeOps}
import graft.pipeline.Pipelines

/** S1+S2: the whole-file text parse of [[Readers.loadRawJson]] against the
  * multiLine JSON-source read it replaced, over malformed and edge-case
  * files. */
class ReadersSpec extends SparkSpec {

  /** Epoch ms for 2024-01-01 00:00:00 UTC. */
  private val Day = 1704067200000L

  /** The multiLine JSON-source read with `data` typed as a string. */
  private def jsonSourceRead(dir: String): DataFrame =
    spark.read
      .schema(Schemas.rawJson)
      .option("pathGlobFilter", "*.json")
      .option("recursiveFileLookup", "true")
      .option("multiLine", "true")
      .option("primitivesAsString", "true")
      .json(dir)
      .withColumn("jname", regexp_extract(url_decode(input_file_name()),
        Readers.JnamePattern, 0))

  private def rec(i: Int, kind: String, data: String): String =
    s"""{"time": ${Day + i * 1000L}, "kind": "$kind", "data": $data}"""

  /** Watch records whose payloads print numbers in forms a JSON parser
    * does not keep (`71.00`, `1e2`, `36.40`), across every payload kind. */
  private val watchRecords = Seq(
    rec(0, "hr", "[71.00]"), rec(1, "hr", "[1e2]"), rec(2, "spo2", "[97]"),
    rec(3, "bp", "[118.0, 76.50]"),
    rec(4, "multi measure", "[70.00, 97, [117, 75.0], 36.40]"),
    rec(5, "activity", "[500, 20.0, 0, 0, 0]"),
    rec(6, "sleep_total", "[120.00]"),
    rec(7, "ppg", "[1.10, 2, 3e0]"),
    rec(8, "acx", "[0.10, 0.2, -0.0]"), rec(9, "acy", "[0.3, 1E-1]"),
    rec(10, "acz", "[9.80, 9.81]"))

  /** One directory of the edge cases the reader must agree on. */
  private def edgeFixture(): Path = {
    val dir = Files.createTempDirectory("graft_raw_json")
    def f(name: String, body: String): Unit = {
      val p = dir.resolve(name)
      Files.createDirectories(p.getParent)
      Files.writeString(p, body)
    }
    f("watch 2024-01-01 08-00-00.json", watchRecords.mkString("[", ",\n", "]"))
    f("single 2024-01-01 09-00-00.json", rec(20, "hr", "[80]"))
    f("empty array.json", "[]")
    f("empty.json", "")
    f("blank.json", " \r\n\t ")
    f("not json.json", "watch upload failed")
    f("truncated.json", s"[${rec(30, "hr", "[81]")}, {\"time\": 4")
    f("scalar array.json", "[1, 2]")
    f("null element.json", s"[null, ${rec(31, "hr", "[82]")}]")
    f("bad time.json",
      s"""[${rec(32, "hr", "[83]")}, {"time": "noon", "kind": "hr"}]""")
    f("bom 2024-01-01 10-00-00.json", "\uFEFF[" + rec(33, "hr", "[84.0]") + "]")
    f("data forms.json", Seq(
      rec(40, "note", "\"a 71.00 string\""),
      rec(41, "note", """{"x": 1.50, "y": [1, 2]}"""),
      rec(42, "note", "null"),
      s"""{"time": ${Day + 43000}, "kind": "note"}""",
      rec(44, "note", "12345678901234567890")).mkString("[", ",", "]"))
    f("2024/01/watch 2024-01-01 11-00-00.json", s"[${rec(50, "hr", "[85]")}]")
    f("notes.txt", s"[${rec(60, "hr", "[86]")}]")
    f("watch.json.bak", s"[${rec(61, "hr", "[87]")}]")
    dir
  }

  private val mapper = new ObjectMapper()

  /** A row with its `data` text replaced by the JSON value it denotes
    * (the text itself when it is no JSON value). */
  private def denoted(r: Row): String = {
    val data = Option(r.getAs[String]("data")).map { d =>
      scala.util.Try(mapper.readTree(d)).toOption.filter(_ != null)
        .map(_.toString).getOrElse(d)
    }
    Seq(r.getAs[Any]("time"), r.getAs[String]("kind"), data,
      r.getAs[String]("jname")).mkString("|")
  }

  test("loadRawJson reads the rows the JSON source read") {
    val dir = edgeFixture().toString
    val got = Readers.loadRawJson(spark, dir)
    val want = jsonSourceRead(dir)
    assert(got.schema == want.schema)
    val g = got.collect().toSeq
    val w = want.collect().toSeq
    assert(g.map(denoted).sorted == w.map(denoted).sorted)
    // string payloads come back verbatim, others as their parsed value
    val data = g.map(r => r.getAs[Any]("time") -> r.getAs[String]("data"))
      .toMap
    assert(data(Day + 40000) == "a 71.00 string")
    assert(data(Day + 41000) == """{"x":1.5,"y":[1,2]}""")
    assert(data(Day) == "[71.0]" && data(Day + 1000) == "[100.0]")
    assert(data(Day + 44000) == "12345678901234567890")
    // four files read as one all-null record each, as before
    assert(g.count(r => r.isNullAt(0) && r.isNullAt(1)) == 4)
    // jname from a file name with spaces; nested files found, others not
    assert(g.map(_.getAs[String]("jname")).toSet == Set("",
      "2024-01-01 08-00-00", "2024-01-01 09-00-00", "2024-01-01 10-00-00",
      "2024-01-01 11-00-00"))
    assert(!g.exists(r => !r.isNullAt(0) && r.getLong(0) >= Day + 60000))
  }

  test("reformat outputs equal the JSON-source composition") {
    val dir = edgeFixture().toString
    val zone = "America/Los_Angeles"
    val got = Pipelines.reformat(spark, dir, offsetMs = Some(900000L),
      zone = zone)
    val converted = TimeOps.convertDateTime(jsonSourceRead(dir), 900000L,
      zone)
    assert(rowsOf(got.measurements) ==
      rowsOf(Normalize.normalizeMeasurements(converted)))
    assert(rowsOf(got.ppg) ==
      rowsOf(Normalize.waveforms(converted, Normalize.PpgKinds)))
    assert(rowsOf(got.ac) ==
      rowsOf(Normalize.waveforms(converted, Normalize.AccKinds)))
    assert(got.measurements.filter(col("kind") === "hr").count() > 5)
    assert(got.ppg.count() == 1 && got.ac.count() == 3)
  }
}
