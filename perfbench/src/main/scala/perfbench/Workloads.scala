package perfbench

import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, to_json}
import org.apache.spark.sql.types._

import graft.{Bench, SparkEntry, Tables}
import graft.pipeline.MoviesEtl
import graft.sources.IO

/** One benchmark workload. The timed [[iteration]] drives the engine only
  * through its public functions; everything else here runs outside the
  * timed window. */
abstract class Workload(val spark: SparkSession, val in: String, val work: String) {
  /** Operations attempted and failed (an iteration, or one query of it). */
  var attempted = 0L
  var failed = 0L
  /** Per-iteration values of workload-specific per-layer metrics. */
  val layerSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  protected def record(name: String, v: Double): Unit =
    layerSamples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Forgets the warm iteration: counters restart at the first timed one. */
  def resetCounts(): Unit = { attempted = 0L; failed = 0L }

  /** Untimed preparation before every iteration. */
  def prepare(): Unit = ()
  /** One timed iteration, input to complete result in the sink. */
  def iteration(t: Tracer): Unit
  /** Untimed bookkeeping after every iteration. */
  def afterIteration(): Unit = ()
  /** Traced-only probes for per-layer numbers an iteration cannot give. */
  def probe(t: Tracer): Unit = ()
  /** Facts the correctness checks compare, read after all timing. */
  def check(): Map[String, Any]
  /** Input rows one iteration consumes (counted during [[check]]). */
  def inputRows: Long
  /** Rows one iteration writes into its sink. */
  def loadRows: Long
  /** Bytes the sink stores after one iteration. */
  def sinkBytes: Long = 0L
  /** Releases what the workload holds outside Spark. */
  def close(): Unit = ()

  protected def sink(t: Tracer, df: DataFrame)(write: => Unit): Unit = {
    if (t.on) t.span("plan")(df.queryExecution.executedPlan)
    t.span("exec")(write)
  }
  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode(SaveMode.Overwrite).save()
}

object Workload {
  def apply(name: String, spark: SparkSession, in: String, work: String): Workload =
    name match {
      case "etl_movies" => new EtlMovies(spark, in, work)
      case "query_headline" => new QueryHeadline(spark, in, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** The paper's whole pipeline (challenge2.py): extract the wiki JSON
  * array, the kaggle CSV and the ratings CSV through `sources.IO`, run
  * `MoviesEtl.run`, then the paper's load step (challenge2.py:285-301)
  * into embedded Derby over JDBC: `movies_with_ratings` is full-replaced
  * and the ratings go through `transformRatings` and are chunk-appended.
  * The tables are created by the warm iteration and emptied before every
  * iteration, outside the timed window. */
final class EtlMovies(spark: SparkSession, in: String, work: String)
    extends Workload(spark, in, work) {
  private val ratingsSchema = StructType(Seq(
    StructField("userId", LongType), StructField("movieId", LongType),
    StructField("rating", DoubleType), StructField("timestamp", LongType)))
  private val url = s"jdbc:derby:$work/derby/db;create=true"
  private var extractRows = Map.empty[String, Long]
  private var outputRows = 0L
  /** Row counts at the pipeline checkpoints, counted by the traced run. */
  private var checkpoints = Map.empty[String, Long]
  private val readback = mutable.ArrayBuffer.empty[Map[String, Long]]

  private def readWiki(t: Tracer): DataFrame =
    t.span("construct:wiki")(IO.readJsonArray(spark, s"$in/wiki_movies.json"))
  private def readKaggle(t: Tracer): DataFrame =
    t.span("construct:kaggle")(IO.readCsvInferred(spark, s"$in/movies_metadata.csv"))
  private def readRatings(t: Tracer): DataFrame =
    t.span("construct:ratings")(IO.readCsv(spark, s"$in/ratings.csv", ratingsSchema))

  /** JDBC has no map, array or struct columns: render them as JSON text. */
  private def jdbcSafe(df: DataFrame): DataFrame = df.select(df.schema.fields.map { f =>
    f.dataType match {
      case _: MapType | _: ArrayType | _: StructType =>
        to_json(col(s"`${f.name}`")).alias(f.name)
      case _ => col(s"`${f.name}`")
    }
  }.toIndexedSeq: _*)

  private def sql[T](body: java.sql.Statement => T): T = {
    val c = DriverManager.getConnection(url)
    try { val s = c.createStatement(); try body(s) finally s.close() }
    finally c.close()
  }
  private def one(s: java.sql.Statement, q: String): Long = {
    val r = s.executeQuery(q)
    try { r.next(); r.getLong(1) } finally r.close()
  }

  /** Traced runs name the counting driver, so connections and batches
    * show up as per-layer counts; untraced runs use the URL's own driver. */
  private def props(t: Tracer, extra: (String, String)*): Properties = {
    val p = new Properties
    if (t.on) {
      p.setProperty("driver", classOf[CountingDriver].getName)
      p.setProperty(CountingDriver.Marker, "1")
    }
    extra.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  // before the warm iteration there is nothing to empty: it creates the tables
  override def prepare(): Unit = if (readback.nonEmpty) sql { s =>
    s.execute("TRUNCATE TABLE movies_with_ratings")
    s.execute("TRUNCATE TABLE ratings")
  }

  def iteration(t: Tracer): Unit = {
    attempted += 1
    val (w, k, r) = t.span("extract")((readWiki(t), readKaggle(t), readRatings(t)))
    val (movies, ratings) = t.span("transform")(t.span("construct")(
      (jdbcSafe(MoviesEtl.run(w, k, r)), MoviesEtl.transformRatings(r))))
    val (c0, b0) = (CountingDriver.connections.get, CountingDriver.batches.get)
    t.span("load") {
      sink(t, movies)(IO.writeJdbcReplace(movies, url, "movies_with_ratings",
        props(t, "truncate" -> "true")))
      sink(t, ratings)(IO.writeJdbcAppend(ratings, url, "ratings", props = props(t)))
    }
    if (t.on) {
      record("load.jdbc_connections", (CountingDriver.connections.get - c0).toDouble)
      record("load.jdbc_batches", (CountingDriver.batches.get - b0).toDouble)
    }
  }

  override def afterIteration(): Unit = readback += sql { s =>
    Map("movies_with_ratings" -> one(s, "SELECT COUNT(*) FROM movies_with_ratings"),
      "ratings" -> one(s, "SELECT COUNT(*) FROM ratings"))
  }

  /** Each public pipeline stage sunk to `noop` on freshly extracted inputs;
    * its self time is the stage span minus the extract span. */
  override def probe(t: Tracer): Unit = {
    t.iter = "probe"
    def stage(name: String)(build: Tracer => DataFrame): Unit = {
      val df = t.span(s"stage:$name") {
        val df = build(t)
        sink(t, df)(noop(df))
        df
      }
      checkpoints += s"${name}_rows" -> df.count()
    }
    stage("clean_wiki") { t =>
      val w = t.span("extract")(readWiki(t))
      t.span("construct")(MoviesEtl.cleanWiki(w))
    }
    stage("clean_kaggle") { t =>
      val k = t.span("extract")(readKaggle(t))
      t.span("construct")(MoviesEtl.cleanKaggle(k))
    }
    stage("join_movies") { t =>
      val (w, k) = t.span("extract")((readWiki(t), readKaggle(t)))
      t.span("construct")(MoviesEtl.joinMovies(MoviesEtl.cleanWiki(w), MoviesEtl.cleanKaggle(k)))
    }
    stage("rating_counts") { t =>
      val (w, k, r) = t.span("extract")((readWiki(t), readKaggle(t), readRatings(t)))
      t.span("construct")(MoviesEtl.withRatingCounts(
        MoviesEtl.joinMovies(MoviesEtl.cleanWiki(w), MoviesEtl.cleanKaggle(k))
          .withColumnRenamed("id", "kaggle_id"),
        MoviesEtl.transformRatings(r)))
    }
  }

  /** Input row counts, a column checksum of both loaded tables and the
    * checked columns of every loaded movie, read back from Derby. */
  def check(): Map[String, Any] = {
    val off = Tracer.off
    extractRows = Map("wiki" -> readWiki(off).count(), "kaggle" -> readKaggle(off).count(),
      "ratings" -> readRatings(off).count())
    val cols = Seq("kaggle_id", "revenue", "budget", "runtime") ++
      MoviesEtl.RatingLevels.map(l => "rating_" + l.replace('.', '_'))
    val (sums, rows) = sql { s =>
      val sums = Map(
        "rows" -> one(s, "SELECT COUNT(*) FROM ratings"),
        "sum_userId" -> one(s, "SELECT SUM(\"userId\") FROM ratings"),
        "sum_movieId" -> one(s, "SELECT SUM(\"movieId\") FROM ratings"),
        "sum_rating_x2" -> one(s, "SELECT SUM(CAST(\"rating\" * 2 AS BIGINT)) FROM ratings"))
      val r = s.executeQuery(cols.map(c => "\"" + c + "\"").mkString("SELECT ", ", ",
        " FROM movies_with_ratings"))
      val rows = mutable.ArrayBuffer.empty[Seq[Any]]
      try while (r.next()) rows += cols.indices.map(i => r.getObject(i + 1))
      finally r.close()
      (sums, rows.toSeq)
    }
    outputRows = rows.size
    checkpoints ++ Map("extract_rows" -> extractRows, "output_rows" -> outputRows,
      "readback" -> readback.toSeq, "ratings_checksum" -> sums,
      "sink_columns" -> cols, "sink_rows" -> rows)
  }

  def inputRows: Long = extractRows.values.sum
  def loadRows: Long = outputRows + extractRows.getOrElse("ratings", 0L)
  /** Pages Derby has allocated for the two loaded tables, in bytes. */
  override def sinkBytes: Long = sql { s =>
    one(s, "SELECT SUM(NUMALLOCATEDPAGES * PAGESIZE) FROM TABLE " +
      "(SYSCS_DIAG.SPACE_TABLE()) T WHERE TABLEID IN (SELECT TABLEID FROM " +
      "SYS.SYSTABLES WHERE TABLENAME IN ('MOVIES_WITH_RATINGS', 'RATINGS'))")
  }

  override def close(): Unit =
    try DriverManager.getConnection(s"jdbc:derby:$work/derby/db;shutdown=true").close()
    catch { case _: java.sql.SQLException => () } // Derby signals a clean shutdown this way
}

/** The 12 declared headline queries (`graft.Bench.Headline`) over
  * TPC-H-shaped parquet, each sunk to `noop`. */
final class QueryHeadline(spark: SparkSession, in: String, work: String)
    extends Workload(spark, in, work) {
  /** Untraced time of every timed run of each headliner. */
  private val querySeconds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var tableRows = Map.empty[String, Long]

  override def resetCounts(): Unit = { super.resetCounts(); querySeconds.clear() }

  private val checkDir = s"$work/check"
  /** The warm iteration writes each result as parquet for the oracle
    * comparison; every later iteration sinks to `noop`. */
  private var warm = true

  def iteration(t: Tracer): Unit = Bench.Headline.foreach { case (label, name) =>
    attempted += 1
    val t0 = System.nanoTime()
    try t.span(s"query:$label") {
      val df = t.span("construct")(SparkEntry.queries(name)(spark, in))
      sink(t, df) {
        if (warm) df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$checkDir/$name")
        else noop(df)
      }
    } catch { case e: Exception =>
      failed += 1
      System.err.println(s"[perfbench] $label failed: $e")
    }
    if (!t.on) querySeconds.getOrElseUpdate(label, mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e9
  }

  override def afterIteration(): Unit = warm = false

  /** The oracle SQL of every headliner, next to the results the warm
    * iteration wrote, and the fixture rows the headliners read. */
  def check(): Map[String, Any] = {
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
      Json.write(Bench.Headline.map { case (_, n) => n -> SparkEntry.oracleSql(n) }.toMap))
    tableRows = Map(
      "lineitem" -> Tables.lineitem(spark, in).count(),
      "orders" -> Tables.orders(spark, in).count(),
      "customer" -> Tables.customer(spark, in).count(),
      "nation" -> Tables.nation(spark, in).count(),
      "documents" -> Tables.documents(spark, in).count(),
      "embeddings" -> Tables.embeddings(spark, in).count())
    Map("extract_rows" -> tableRows, "check_dir" -> checkDir,
      "queries" -> Bench.Headline.map(_._2), "query_s" -> querySeconds)
  }

  def inputRows: Long = tableRows.values.sum
  def loadRows: Long = 0L
}
