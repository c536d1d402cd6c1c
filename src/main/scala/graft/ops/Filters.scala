package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Projections / filters / predicates — SURVEY.md §2 B1–B9.
  *
  * Re-expressions of the reference's boolean-mask filtering and column
  * manipulation (reference: challenge2.py:21-24, 82, 100-102, 162-269).
  * All functions are pure `DataFrame => DataFrame`; predicates stay
  * declarative Column expressions so Catalyst pushes them into the scan.
  */
object Filters {

  /** B1 — key-existence predicate: keep rows where every column in
    * `required` is non-null and every column in `mustBeNull` is null.
    * Reference: the movie filter `('Director' in m or 'Directed by' in m)
    * and 'imdb_link' in m and 'No. of episodes' not in m`
    * (challenge2.py:21-24). */
  def existence(df: DataFrame, required: Seq[String], mustBeNull: Seq[String] = Nil): DataFrame = {
    val req = required.map(qcol(_).isNotNull).reduceOption(_ && _).getOrElse(lit(true))
    val nul = mustBeNull.map(qcol(_).isNull).reduceOption(_ && _).getOrElse(lit(true))
    df.filter(req && nul)
  }

  /** B1 variant — at least one of `anyOf` non-null (the Director OR
    * Directed-by disjunct, challenge2.py:22). */
  def anyExistence(df: DataFrame, anyOf: Seq[String]): DataFrame =
    df.filter(anyOf.map(qcol(_).isNotNull).reduce(_ || _))

  /** B2 — column-subset projection (challenge2.py:82,246-251). */
  def project(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(qcol): _*)

  /** B3 — membership predicate, `isin` / negated `isin`
    * (challenge2.py:202-204). */
  def membership(df: DataFrame, c: String, values: Seq[Any], negate: Boolean = false): DataFrame = {
    val p = col(c).isin(values: _*)
    df.filter(if (negate) !p else p)
  }

  /** B4 — compound range predicate (the mis-merge detector,
    * challenge2.py:229-231). */
  def range(df: DataFrame, pred: Column): DataFrame = df.filter(pred)

  /** B5 — negated regex mask: rows matching neither pattern
    * (`box_office[~matches_form_one & ~matches_form_two]`,
    * challenge2.py:100-102,171-173). Note SQL 3-valued logic: null input
    * rows are dropped, matching the reference's prior dropna
    * (SURVEY.md §7.4.3). */
  def matchesNeither(df: DataFrame, c: String, patterns: Seq[String]): DataFrame =
    df.filter(patterns.map(p => !col(c).rlike(p)).reduce(_ && _))

  /** B9 — bulk rename (the 15-entry rename map, challenge2.py:254-269). */
  def rename(df: DataFrame, renames: Map[String, String]): DataFrame =
    df.withColumnsRenamed(renames)
}
