package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling / shuffle-shaping operators.
  *
  * The reference never needs these (one box, 26M rows), but at 100 TB a
  * single hot key (the power-law user, the empty-string document) turns one
  * shuffle partition into the whole job's critical path. AQE's skew-join
  * splitting handles sort-merge joins; these operators cover the cases AQE
  * does not: hot-key aggregation fan-in and broadcast-infeasible hot-key
  * joins, plus the two-phase exact-distinct shape.
  */
object Skew {

  /** Deterministic salt in [0, salts): hash of the given columns. Using
    * row content (not rand()) keeps retries/speculative tasks consistent. */
  def saltCol(salts: Int, from: Column*): Column =
    pmod(hash(from: _*), lit(salts))

  /** Salted equi-join for a skewed big side: the big side gets a
    * content-hash salt, the small side is replicated `salts`× via an
    * exploded sequence, and the join key becomes (key, salt) — hot keys
    * spread over `salts` reducers. Result is identical to
    * `big.join(small, keys)`. Use when `small` is too big to broadcast but
    * small enough to replicate `salts` times.
    *
    * COST: the small side's shuffle volume is multiplied by `salts` —
    * size `salts` for the BIG side's skew, not larger; `salts` beyond the
    * hot key's partition spread only inflates the replicated side. Inputs
    * must not already carry a `__salt` column (a pre-existing one would
    * silently join on the wrong key). */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 salts: Int, bigSaltFrom: Seq[String]): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    require(!big.columns.contains("__salt") && !small.columns.contains("__salt"),
      "saltedJoin inputs must not already have a __salt column")
    val b = big.withColumn("__salt", saltCol(salts, bigSaltFrom.map(col): _*))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    b.join(s, keys :+ "__salt").drop("__salt")
  }

  /** Exact distinct-count per group without shipping raw values twice:
    * phase 1 dedups (keys, valueCol) with map-side partial aggregation,
    * phase 2 counts per keys. Same two-exchange shape Spark plans for
    * count(DISTINCT) but expressed explicitly so phase 1 can be reused
    * (e.g. for several downstream aggregates) and salted variants drop in. */
  def twoPhaseDistinctCount(df: DataFrame, keys: Seq[String],
                            valueCol: String): DataFrame =
    df.select((keys :+ valueCol).map(qcol): _*).distinct()
      .groupBy(keys.map(qcol): _*)
      .agg(count(lit(1)).alias(s"n_distinct_$valueCol"))

  /** Range-partition + in-partition sort: the write-side layout op for
    * sorted parquet (min/max zone-map pruning on the sort key at read
    * time). */
  /** Key-skew diagnostic — the measurement you run BEFORE choosing a
    * remedy (salting, broadcast, AQE hints): one row with the per-key
    * count distribution of a prospective shuffle key. `skew` = max key
    * count over mean key count; ~1 means uniform, large means one hot
    * key owns the reduce stage. Costs one map-side-combined count
    * shuffle plus a tiny aggregate over the (key, count) table — cheap
    * enough to run as a pre-flight on real join inputs. The exact
    * interpolated percentiles buffer only the per-KEY counts (bounded by
    * key cardinality, not rows); a billion-key table would swap in
    * approx_percentile, same note as Aggregates.quartiles. */
  def skewReport(df: DataFrame, keys: Seq[String]): DataFrame = {
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).alias("cnt"))
    counts.agg(
        count(lit(1)).alias("n_keys"),
        sum(col("cnt")).alias("n_rows"),
        max(col("cnt")).alias("max_cnt"),
        expr("percentile(cnt, array(0.5D, 0.99D))").alias("__q"))
      .select(col("n_keys"), col("n_rows"), col("max_cnt"),
        round(col("n_rows").cast("double") / col("n_keys"), 6).alias("mean_cnt"),
        round(col("__q").getItem(0), 6).alias("p50_cnt"),
        round(col("__q").getItem(1), 6).alias("p99_cnt"),
        round(col("max_cnt") / (col("n_rows").cast("double") / col("n_keys")), 6)
          .alias("skew"))
  }
}
