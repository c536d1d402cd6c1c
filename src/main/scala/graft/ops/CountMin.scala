package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-min sketch as a maintained (d, b, cnt) TABLE — bounded-memory
  * frequency estimation over an unbounded item domain, the one-sided
  * complement to the Misra-Gries heavy-hitters summary (MG keeps the
  * top-k identities; CMS answers point frequency for ANY item, always
  * over-, never under-estimating).
  *
  * Scale shape: the sketch is depth×width rows FOREVER regardless of
  * vocabulary size; building it is one explode (depth rows per item,
  * map-side partial-aggregated down to ≤ depth·width cells per task
  * BEFORE the single shuffle) and probing is a broadcast-sized join —
  * the item stream never holds per-item state. Two sketches with the
  * same (depth, width) merge by adding cell counts (sum is associative),
  * so per-day sketch tables roll up to any range, the mergeable-
  * summaries property the KMV cube uses.
  *
  * Hashing is the engine-portable md5 family ([[ScaleDedup.hash32]]
  * with the row index as seed), so an external engine can replay the
  * sketch bit-for-bit — the determinism stance of every sketch in this
  * library (no RNG state, no murmur variance).
  *
  * Error bound (Cormode–Muthukrishnan): with width w and depth d,
  * P[est − true > 2N/w] < (1/2)^d over the hash draws; callers size
  * `width` to the tolerated absolute overcount at their N.
  */
object CountMin {

  private def bucketRows(itemCol: String, depth: Int, width: Int) =
    (0 until depth).map { d =>
      struct(lit(d).alias("d"),
        pmod(ScaleDedup.hash32(col(itemCol).cast("string"), d), lit(width))
          .cast("int").alias("b"))
    }

  /** Build the depth×width counts table over `df[itemCol]`. */
  def cmsBuild(df: DataFrame, itemCol: String,
               depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 8, s"cmsBuild: bad depth $depth")
    require(width >= 2 && width <= (1 << 24), s"cmsBuild: bad width $width")
    df.select(explode(array(bucketRows(itemCol, depth, width): _*)).alias("__r"))
      .groupBy(col("__r.d").alias("d"), col("__r.b").alias("b"))
      .agg(count(lit(1)).alias("cnt"))
  }

  /** Point estimates for the probe items: min over the depth probed
    * cells (absent cell ⇒ 0 — the item was never seen). The probe set
    * is dimension-sized by contract; the sketch side is depth·width
    * rows, so the join broadcasts whichever side is smaller. */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, itemCol: String,
                  depth: Int, width: Int): DataFrame =
    probes.select(col(itemCol),
        explode(array(bucketRows(itemCol, depth, width): _*)).alias("__r"))
      .select(col(itemCol), col("__r.d").alias("d"), col("__r.b").alias("b"))
      .join(sketch, Seq("d", "b"), "left")
      .groupBy(itemCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).alias("cms_est"))
}
