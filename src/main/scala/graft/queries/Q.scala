package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the Spark build over a fixture
  * directory, and the DuckDB SQL that defines its answer over the same
  * parquet files. */
final case class Q(name: String, build: (SparkSession, String) => DataFrame,
                   oracle: String)

object Q {
  /** Name → query. A name registered twice is an error naming the
    * duplicates: a plain `toMap` would keep the last and silently shadow
    * the first. */
  def index(qs: Seq[Q]): Map[String, Q] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}
