package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Scans / sources / sinks — SURVEY.md §2 A1–A7.
  *
  * Reference: json.load of the Wikipedia scrape (challenge2.py:13-14),
  * read_csv with whole-file inference (challenge2.py:16-17), chunked
  * re-read (challenge2.py:295), SQLAlchemy to_sql (challenge2.py:285-301).
  */
object IO {

  /** A1 — semi-structured JSON array scan: one multiline JSON document per
    * file, ragged keys become nullable columns (the 193-key union,
    * exploratory_data_analysis.ipynb:1851-2043). Explicit schema wins at
    * scale; inference stays an ingest capability.
    *
    * Each file is read as ONE in-memory record: the record separator is
    * NUL, which valid JSON never contains raw. Schema, rows and the text
    * of list-valued cells in string columns are those of the `multiLine`
    * reader, but the `multiLine` reader parses from a stream and re-reads
    * the file (one positioned read, i.e. a re-open on a checksummed
    * filesystem or a ranged GET on an object store) for every non-string
    * token it keeps as exact text; from a byte record that text is a
    * slice. Limits: a file must fit in one Hadoop `Text` record (< 2 GB),
    * and `multiLine` already holds every row of the top-level array at
    * once; the file must be UTF-8 (RFC 8259), since the separator is
    * matched as a zero byte, which UTF-16/32 text contains. */
  def readJsonArray(spark: SparkSession, path: String,
                    schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("lineSep", "\u0000")
    schema.fold(r)(r.schema).json(path)
  }

  /** A2 — CSV scan with whole-file type inference (low_memory=False,
    * challenge2.py:16). `inferSchema` makes Spark do one full extra pass —
    * exactly the tradeoff the reference chose. */
  def readCsvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", true).option("inferSchema", true).csv(path)

  /** A2/A3 — CSV scan with a pinned schema: zero inference passes, the
    * production path for the 26M-row ratings file (challenge2.py:17). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", true).schema(schema).csv(path)

  /** A6 — JDBC sink, full replace (to_sql name='movies',
    * exploratory_data_analysis.ipynb:6437). Exercised end to end against
    * embedded Derby (JdbcSinkSpec, and the load step of the `etl_movies`
    * benchmark workload). */
  def writeJdbcReplace(df: DataFrame, url: String, table: String,
                       props: java.util.Properties = new java.util.Properties): Unit =
    df.write.mode(SaveMode.Overwrite).jdbc(url, table, props)

  /** A7 — JDBC sink, chunked append with bounded batch size: Spark's
    * equivalent of the 1M-row chunk loop with progress logging
    * (challenge2.py:295-301) is writers × `batchsize` on the writer;
    * per-partition progress comes from the Spark UI / listeners.
    *
    * Writers = min(input partitions, `numPartitions`): `numPartitions` is
    * passed as the JDBC writer's own option, which coalesces down to the
    * cap and never shuffles up to it. Each writer is one connection; for
    * 100k ratings from one CSV split into embedded Derby, one writer took
    * ~1.2 s against ~1.9 s for `repartition(8)` (BASELINE.md). */
  def writeJdbcAppend(df: DataFrame, url: String, table: String,
                      numPartitions: Int = 8, batchSize: Int = 10000,
                      props: java.util.Properties = new java.util.Properties): Unit =
    df.write.mode(SaveMode.Append)
      .option("batchsize", batchSize).option("numPartitions", numPartitions)
      .jdbc(url, table, props)

  /** Compacting parquet sink: bound the OUTPUT FILE COUNT so downstream
    * scans see few large files instead of many small ones — the
    * small-files problem is the classic failure mode of incremental
    * pipelines at scale (every file costs a listing call, a footer read,
    * and a task). `repartition(n)` (round-robin) rebalances evenly at the
    * cost of one shuffle; `coalesce(n)` would avoid the shuffle but can
    * leave skewed files since it only unions existing partitions. */
  def writeCompacted(df: DataFrame, path: String, numFiles: Int): Unit = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    df.repartition(numFiles).write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** JSON-lines scan (one object per line — the interchange format
    * crawl/event feeds actually arrive in, vs [[readJsonArray]]'s
    * single-document array). Line-splittable, so a 100 TB feed
    * parallelizes by input split with no document-boundary coordination. */
  def readJsonLines(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** JSON-lines sink (overwrite): the hand-off format for downstream
    * tools that don't speak parquet. */
  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** CSV sink (overwrite, header on): the export twin of the CSV scans.
    * Quoting/escaping are the writer defaults — round-trip-safe against
    * [[readCsv]] with the matching schema. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", true).csv(path)

  /** ORC scan — the other columnar warehouse format Spark reads
    * natively (Hive-lineage lakes ship it; a drop-in engine must too).
    * Same vectorized reader + predicate-pushdown + column-pruning
    * machinery as parquet: pushed filters and ReadSchema show up in the
    * scan identically (OrcSourceSpec asserts both). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC sink (overwrite). ZSTD compression to match the parquet
    * defaults used elsewhere. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", "zstd").orc(path)

  /** Schema-evolution read: union the schemas of all parquet files under
    * `path` (columns added by newer writers come back null for old files).
    * Off by default in Spark because footer-merging costs one extra pass —
    * turn it on only at evolution boundaries. */
  def readParquetMergedSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", true).parquet(path)

  /** Hive-style partitioned parquet sink: one directory per distinct value
    * of `partitionCols` (`path/col=value/...`). At 100 TB this is the
    * coarse pruning layer: a query filtering on a partition column reads
    * ONLY the matching directories — the scan's PartitionFilters, applied
    * at planning time, before any file is opened. Choose low-cardinality
    * columns (date, lang, source); high-cardinality partitioning produces
    * the small-files problem instead. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Targeted delete (right-to-be-forgotten) over a Hive-partitioned
    * parquet table: remove every row whose `keyCol` appears in
    * `tombstones`, REWRITING ONLY THE PARTITIONS THAT CONTAIN SUCH ROWS.
    * This is the compliance primitive a 100 TB corpus needs: a delete
    * request for a handful of users must not rewrite (or even read) the
    * other 99.99 % of the table.
    *
    * Dataflow: (1) broadcast the distinct tombstone keys and semi-join to
    * find the affected partition VALUES — the only full-table touch, and
    * it is a scan+broadcast-probe that prunes columns to (key, partition);
    * (2) read ONLY those partitions back (planning-time partition
    * pruning), anti-join the broadcast keys, and stage the survivors to a
    * temp sibling directory; (3) swap each affected partition directory
    * (delete old, rename staged) — partitions whose rows were all
    * tombstoned are removed outright, and untouched partitions' files are
    * never read, rewritten, or re-listed. Staging-then-swap also avoids
    * Spark's (correct) refusal to overwrite a path it is reading from.
    *
    * Returns (rowsDeleted, partitionsRewritten, partitionsRemoved).
    * Partition values must round-trip through their directory names
    * (true for the date/lang/source-style values partitioning should use;
    * see [[writePartitioned]]'s cardinality guidance). */
  def forgetKeys(spark: SparkSession, path: String, keyCol: String,
                 tombstones: DataFrame, partitionCol: String)
      : (Long, Long, Long) = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{broadcast, col}
    val table = spark.read.parquet(path)
    val keys = tombstones.select(col(keyCol)).distinct()
    val affected = table.join(broadcast(keys), Seq(keyCol), "left_semi")
      .select(partitionCol).distinct().collect().map(_.get(0))
    if (affected.isEmpty) return (0L, 0L, 0L)
    val slice = table.filter(col(partitionCol).isInCollection(affected))
    val kept = slice.join(broadcast(keys), Seq(keyCol), "left_anti")
    // two pruned-scan counts — bounded by the affected partitions' size
    val deleted = slice.count() - kept.count()
    val tmp = path.stripSuffix("/") + ".__forget_staging"
    kept.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(tmp)
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var rewritten = 0L; var removed = 0L
    affected.foreach { v =>
      val dst = new Path(s"$path/$partitionCol=$v")
      val src = new Path(s"$tmp/$partitionCol=$v")
      fs.delete(dst, true)
      if (fs.exists(src)) { fs.rename(src, dst); rewritten += 1 }
      else removed += 1
    }
    fs.delete(new Path(tmp), true)
    (deleted, rewritten, removed)
  }
}
