package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IO

/** A1 — `IO.readJsonArray` reads each file as one in-memory record; its
  * schema and rows must be exactly those of Spark's `multiLine` JSON
  * reader, including the source text of list-valued cells that land in a
  * string column (the wiki scrape's str-or-list keys). */
class ReadJsonArraySpec extends AnyFunSuite with SparkSpec {

  private def multiLine(path: String, schema: Option[StructType]): DataFrame = {
    val r = spark.read.option("multiLine", true)
    schema.fold(r)(r.schema).json(path)
  }

  /** Same schema, and no row in either read missing from the other.
    * Both sides are cached first: Spark refuses a raw-file query that
    * references only `_corrupt_record`. */
  private def assertSameAsMultiLine(path: String,
                                    schema: Option[StructType] = None): DataFrame = {
    val got = IO.readJsonArray(spark, path, schema).cache()
    val want = multiLine(path, schema).cache()
    assert(got.schema === want.schema)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty, "rows only in readJsonArray")
    assert(want.exceptAll(got).isEmpty, "rows only in the multiLine read")
    want.unpersist()
    got
  }

  private def write(dir: Path, name: String, text: String): Path =
    Files.write(dir.resolve(name), text.getBytes(UTF_8))

  private lazy val fixture: String =
    getClass.getResource("/movies-etl/wiki_movies.json").getPath

  // Irregular spacing inside arrays, nested objects, escapes and raw
  // non-ASCII text, spread over two files of one directory.
  private val cast1 = """[ "Ann Actor",  "Bob  Actor" ,"Cy"]"""
  private val eAcute = "\\" + "u00e9" // the JSON escape for é
  private lazy val twoFiles: String = {
    val dir = Files.createTempDirectory("graft-json-array")
    write(dir, "a.json",
      s"""[
         |  {"title": "Alpha", "Starring": $cast1,
         |   "Chronology": {"value": ["x",   "y"], "n": 1},
         |   "Quote": "caf$eAcute \\"q\\" \\\\ tab\\t", "Native": "東京"},
         |  {"title": "Beta", "Starring": "Solo Star",
         |   "Chronology": {"value": "z", "n": 2}, "Budget": 3.5}
         |]
         |""".stripMargin)
    write(dir, "b.json",
      """[{"title":"Gamma","Starring":[ ],"Chronology":{"value":[["deep" ,1]]},
        |  "Budget" : [ 1 , "two" ], "Native": "Ελληνικά"}]""".stripMargin)
    dir.toString
  }

  test("fixture wiki: same schema and rows as the multiLine reader") {
    val got = assertSameAsMultiLine(fixture)
    assert(got.count() === 11)
    got.unpersist()
  }

  test("two-file directory: same schema and rows; list cells keep their " +
      "source text") {
    val got = assertSameAsMultiLine(twoFiles)
    assert(got.count() === 3)
    assert(got.schema("Starring").dataType === StringType)
    val cast = got.filter(col("title") === "Alpha").select("Starring", "Quote")
      .head()
    assert(cast.getString(0) === cast1)
    assert(cast.getString(1) === "café \"q\" \\ tab\t")
    got.unpersist()
  }

  test("one file cut into many input splits reads as one record") {
    val keys = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val size = Files.size(java.nio.file.Paths.get(fixture))
    try {
      spark.conf.set(keys(0), (size / 12).toString)
      spark.conf.set(keys(1), "1")
      val got = assertSameAsMultiLine(fixture)
      assert(IO.readJsonArray(spark, fixture).rdd.getNumPartitions >= 10)
      assert(got.count() === 11)
      got.unpersist()
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("explicit schema: same rows, list cells read as text") {
    val schema = StructType(Seq(
      StructField("title", StringType), StructField("year", LongType),
      StructField("Starring", StringType), StructField("Budget", StringType),
      StructField("absent", DoubleType)))
    val got = assertSameAsMultiLine(fixture, Some(schema))
    assert(got.schema === schema)
    assert(got.filter(col("title") === "Alpha").select("Starring").head()
      .getString(0) === """["Ann Actor", "Bob Actor"]""")
    got.unpersist()
  }

  test("malformed document: same _corrupt_record schema and row") {
    val dir = Files.createTempDirectory("graft-json-bad")
    val bad = write(dir, "bad.json", """[{"title": "Alpha"}, {"title": """).toString
    val inferred = IO.readJsonArray(spark, bad).schema
    assert(inferred === multiLine(bad, None).schema)
    assert(inferred.fieldNames.toSeq === Seq("_corrupt_record"))
    // a scan of `_corrupt_record` alone is refused even when cached, so
    // the rows are compared under a schema with one more field
    val got = assertSameAsMultiLine(bad, Some(inferred.add("title", StringType)))
    assert(got.filter(col("_corrupt_record").isNotNull).count() === 1)
    got.unpersist()
  }
}
