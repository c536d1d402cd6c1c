package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Record-level schema normalization — SURVEY.md §2 F1–F2 (the reference's
  * `clean_movie`, challenge2.py:28-67). Row-wise Python dict manipulation
  * becomes declarative map/coalesce column expressions.
  */
object Cleaning {

  /** F1 — key consolidation: fold `sources` columns into ONE MapType column
    * keyed by original column name, keeping only non-null entries
    * (the alt_titles dict, challenge2.py:28-41). Implemented as
    * map_filter over map_from_arrays — no UDF, no shuffle. */
  def consolidateToMap(df: DataFrame, sources: Seq[String], dst: String): DataFrame = {
    val existing = sources.filter(df.columns.contains)
    if (existing.isEmpty) df.withColumn(dst, map_from_arrays(array(), array()))
    else {
      val m = map_from_arrays(
        array(existing.map(lit): _*),
        array(existing.map(c => qcol(c).cast("string")): _*))
      df.withColumn(dst, map_filter(m, (_, v) => v.isNotNull)).drop(existing: _*)
    }
  }

  /** F2 — synonym-column merge: collapse variant columns into a canonical
    * one via coalesce (the 19 renames, challenge2.py:44-65; coalesce rather
    * than rename is the faithful set semantics when both variants carry
    * data — SURVEY.md §2 F2). Entries apply in the map's iteration order
    * and each sees the merges before it ("Original release" is both a
    * canonical key and a variant of "Release date"). A canonical column
    * keeps its position or, if absent, is appended. The fold runs over
    * (name, Column) pairs and emits one projection: a `withColumn` +
    * `drop` per entry would re-analyse the whole wide plan each time. */
  def mergeSynonyms(df: DataFrame, canonicalToVariants: Map[String, Seq[String]]): DataFrame = {
    val cols = canonicalToVariants.foldLeft(df.columns.toVector.map(c => c -> qcol(c))) {
      case (cs, (canon, variants)) =>
        val byName = cs.toMap
        val present = (canon +: variants).filter(byName.contains).distinct
        if (present.isEmpty) cs
        else {
          val merged = canon -> coalesce(present.map(byName): _*)
          val kept = cs.filterNot { case (n, _) => n != canon && present.contains(n) }
          if (byName.contains(canon)) kept.map(nc => if (nc._1 == canon) merged else nc)
          else kept :+ merged
        }
    }
    df.select(cols.map { case (n, c) => c.as(n) }: _*)
  }

  /** Dictionary (categorical) encoding: build the (value → dense id)
    * dictionary from the column's distinct values in lexicographic order
    * and return (encoded df, dictionary). The feature-store shape: ship
    * the dictionary with the dataset so ids are stable and reversible.
    *
    * Scale notes: the dictionary is DISTINCT values — vocabulary-sized,
    * not data-sized — so the single-partition rank window over it is a
    * deliberate, bounded cost (same stance as the broadcast vocab maps
    * elsewhere); the re-join onto the data broadcasts the dictionary.
    * A high-cardinality column would funnel the whole distinct set
    * through one window task and then OOM the broadcast, so the
    * cardinality is checked first and the encode fails LOUDLY above
    * `maxDict` (the stripBoilerplateLines / semDedup guard pattern)
    * instead of degrading silently at scale.
    * Null encodes to null (left join), not to an id. */
  def dictEncode(df: DataFrame, c: String, idCol: String,
                 maxDict: Int = 1000000): (DataFrame, DataFrame) = {
    val distinctVals = df.select(col(c)).filter(col(c).isNotNull).distinct()
    val guard = distinctVals.agg(count(lit(1)).alias("__dict_n"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(c))
    // The guard count is folded INTO the id expression (not a dropped
    // side column) so column pruning cannot optimize the check away.
    val dict = distinctVals.crossJoin(broadcast(guard))
      .withColumn(idCol,
        when(col("__dict_n") > maxDict,
          raise_error(lit(s"dictEncode($c): distinct cardinality exceeds " +
            s"maxDict=$maxDict — this column is not vocabulary-sized; " +
            "use a hash/zorder key or raise maxDict deliberately")))
          .otherwise(row_number().over(w)).cast("long"))
      .drop("__dict_n")
    val encoded = df.join(broadcast(dict), Seq(c), "left")
    (encoded, dict)
  }
}
