package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — one named query per implemented operator family from
  * SURVEY.md §2, each with a DuckDB oracle over the same parquet fixtures.
  * Every query ends in an explicit deterministic ORDER BY (unique
  * tie-breakers) and avoids raw TimestampType in outputs (cast to DATE /
  * formatted string) so the cross-engine compare is exact. Sums over
  * doubles go through DECIMAL so shuffle order can't flip low bits.
  *
  * The queries themselves live in the per-family registries under
  * `graft.queries` (plus `ops.Tpch`); this object only indexes them.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The
    * reference's rating-counts chain (challenge2.py:273-281): groupby →
    * pivot(explicit values) → prefix-rename → left-join base → fill 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_pivot_ratings")(spark, "/root/testdata/sf0.001")

  /** Every registered query, family by family. */
  val all: Seq[Q] =
    EtlQueries.all ++ AggregateQueries.all ++ TextQueries.all ++
      ScaleDedupQueries.all ++ SimilarityQueries.all ++ StatsQueries.all ++
      GraphQueries.all ++ MiscQueries.all ++ graft.ops.Tpch.all

  private val byName: Map[String, Q] = Q.index(all)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, q) => n -> q.build }

  /** ORACLE CONTRACT for degenerate inputs: ops that `raise_error` on a
    * degenerate slice (e.g. runsTest one-sided, gumbelFit < 2 blocks,
    * rocAuc single-class, brownForsythe zero spread, ivWald weak
    * instrument) fail LOUDLY engine-side, while their DuckDB mirrors
    * carry no equivalent guard — on degenerate data the two engines
    * intentionally diverge (Spark error vs oracle NaN/Inf/NULL row).
    * Those error paths are OUTSIDE the dual-engine hash contract: the
    * contract covers the non-degenerate domain, the fixtures bind each
    * query inside it, and each guard has its own spec proving it trips.
    * Ops whose degenerate answer is representable (mcnemarTest,
    * kruskalWallis, stlStrength, methodAgreement…) instead pin NULL
    * identically on BOTH engines and stay inside the contract. */
  val oracleSql: Map[String, String] = byName.map { case (n, q) => n -> q.oracle }
}
