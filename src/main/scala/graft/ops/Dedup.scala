package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication / data-dependent pruning — SURVEY.md §2 C1–C5.
  *
  * Reference: imdb_id extract + drop_duplicates (challenge2.py:75-78) and
  * the >90%-null column pruning rule (challenge2.py:81-82).
  */
object Dedup {

  /** C1 — regex key extraction with pandas `str.extract` semantics:
    * no-match yields NULL, not `''` (SURVEY.md §2 J5).
    * Reference: `tt\d{7}` imdb_id extraction (challenge2.py:75). */
  def extractKey(df: DataFrame, src: String, dst: String, pattern: String, group: Int = 1): DataFrame =
    df.withColumn(dst, nullif(regexp_extract(col(src), pattern, group), lit("")))

  /** C2 — keep-FIRST dedup (pandas drop_duplicates keep='first',
    * challenge2.py:77). Spark's dropDuplicates keeps an arbitrary row, so
    * determinism comes from an explicit order column + row_number
    * (SURVEY.md §2 J1). Scale note: this is a single hash-partition shuffle
    * on `keys`; no global sort. */
  def keepFirst(df: DataFrame, keys: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(qcol): _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** C2/J1 at scale — keep-first as ONE aggregation: min of a struct whose
    * leading fields are the (ascending, non-null) order columns. Unlike the
    * window form this gets map-side partial aggregation — each task ships
    * at most one candidate row per key into the shuffle instead of every
    * row — and skips the per-partition sort entirely. Requires ascending
    * order on non-null columns; ties resolve by the remaining struct
    * fields, so pass a unique order key for determinism. */
  def keepFirstAgg(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val rest = df.columns.toSeq.filterNot(c => keys.contains(c) || orderCols.contains(c))
    val packed = struct((orderCols ++ rest).map(qcol): _*)
    df.groupBy(keys.map(qcol): _*)
      .agg(min(packed).alias("__first"))
      .select(df.columns.toSeq.map { c =>
        if (keys.contains(c)) qcol(c) else col(s"__first.`$c`").alias(c)
      }: _*)
  }

  /** C3 — per-column null counts in ONE pass (challenge2.py:81).
    * Returns a single-row DataFrame, one column per input column. */
  def nullProfile(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val cs = if (cols.isEmpty) df.columns.toSeq else cols
    df.select(cs.map(c => count(when(qcol(c).isNull, 1)).alias(s"null_$c")): _*)
  }

  /** C4 — null-ratio column pruning: drop columns with >= `maxNullRatio`
    * nulls (the 90% rule, challenge2.py:81-82). Data-dependent projection:
    * one pass counting `isNullAt` per ordinal over the plan's internal
    * rows, then a driver-side select of survivors in input order (an empty
    * frame keeps every column). A `count(when(isNull))` aggregate per
    * column has width + 1 fields; past `spark.sql.codegen.maxFields` (100;
    * the movies wiki has 158 columns) whole-stage codegen turns off and
    * every task regenerates the wide projection source, ~0.5 s for 1,758
    * rows. `df.rdd`'s row encoder would do the same. */
  def pruneMostlyNullColumns(df: DataFrame, maxNullRatio: Double = 0.9): DataFrame = {
    val cs = df.columns.toSeq
    val width = cs.length
    // nulls per ordinal, then the row count at index `width`
    val counts = df.queryExecution.toRdd.treeAggregate(new Array[Long](width + 1))(
      (acc, row) => {
        var i = 0
        while (i < width) { if (row.isNullAt(i)) acc(i) += 1; i += 1 }
        acc(width) += 1
        acc
      },
      (a, b) => { for (i <- a.indices) a(i) += b(i); a })
    val n = counts(width).max(1L)
    val keep = cs.zipWithIndex.collect { case (c, i) if counts(i).toDouble / n < maxNullRatio => c }
    df.select(keep.map(qcol): _*)
  }

  /** C5 — distinct-count profile per column; exact via countDistinct.
    * Reference: single-value column detection
    * (exploratory_data_analysis.ipynb:6198-6226). At 100 TB prefer
    * `approxProfile`. */
  def distinctProfile(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(c => countDistinct(qcol(c)).alias(s"d_$c")): _*)

  /** C5 at scale — approx_count_distinct (HLL++), one pass, no shuffle of
    * raw values. */
  def approxProfile(df: DataFrame, cols: Seq[String], rsd: Double = 0.01): DataFrame =
    df.select(cols.map(c => approx_count_distinct(qcol(c), rsd).alias(s"d_$c")): _*)
}
