package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Joins — SURVEY.md §2 G1–G3 plus the extra kinds the engine ships for
  * breadth (semi / anti / range / broadcast; SURVEY.md §2 G note).
  *
  * Reference: inner merge on imdb_id with suffix disambiguation
  * (challenge2.py:216), ratings left-join (challenge2.py:279), anomaly
  * purge (challenge2.py:229-231).
  *
  * Scale notes: small dimension sides must be broadcast (no shuffle of the
  * fact side); equi-joins on big×big shuffle both sides on the key — AQE
  * handles skew. A range-only join degenerates to broadcast-nested-loop,
  * so range predicates are attached to an equi-key whenever one exists.
  */
object Joins {

  /** G1 — inner equi-join with pandas-merge suffix disambiguation:
    * colliding non-key columns get `_left`/`_right`-style suffixes
    * (pandas suffixes=['_wiki','_kaggle'], challenge2.py:216). */
  def innerWithSuffixes(left: DataFrame, right: DataFrame, on: Seq[String],
                        leftSuffix: String = "_left", rightSuffix: String = "_right"): DataFrame = {
    val collisions = left.columns.toSet.intersect(right.columns.toSet) -- on.toSet
    val l = collisions.foldLeft(left)((d, c) => d.withColumnRenamed(c, c + leftSuffix))
    val r = collisions.foldLeft(right)((d, c) => d.withColumnRenamed(c, c + rightSuffix))
    l.join(r, on, "inner")
  }

  /** G3 — join-anomaly purge: delete rows matching a predicate
    * (the index-drop of challenge2.py:229-231 re-expressed as predicate
    * negation; SURVEY.md §2 J3). */
  def purge(df: DataFrame, anomaly: Column): DataFrame = df.filter(!coalesce(anomaly, lit(false)))

  /** Semi join — EXISTS. */
  def semi(left: DataFrame, right: DataFrame, on: Seq[String]): DataFrame =
    left.join(right, on, "left_semi")

  /** Anti join — NOT EXISTS. */
  def anti(left: DataFrame, right: DataFrame, on: Seq[String]): DataFrame =
    left.join(right, on, "left_anti")

  /** Broadcast-hinted equi-join for small dimensions: replicates `small` to
    * every task, removing the shuffle of `big` entirely. */
  def broadcastJoin(big: DataFrame, small: DataFrame, cond: Column,
                    joinType: String = "inner"): DataFrame =
    big.join(broadcast(small), cond, joinType)

  /** Range join anchored on an equi-key: the equi part drives the shuffle
    * strategy; the range predicate filters within matched groups. */
  def rangeJoin(left: DataFrame, right: DataFrame, equi: Column, range: Column): DataFrame =
    left.join(right, equi && range, "inner")

  /** Band join with NO equi key: all (l, r) with |l.on − r.on| ≤ band.
    * The predicate alone gives Catalyst nothing to hash or sort on, so a
    * plain `join(abs(l − r) <= band)` plans as BroadcastNestedLoopJoin —
    * O(|L|·|R|) comparisons, the classic silent scale killer in
    * proximity/tolerance joins. The binned rewrite makes it an EQUI join:
    * bucket width = band, the left side keeps its own bucket, the right
    * side fans out to its three neighboring buckets (any pair within
    * `band` differs by at most one bucket, so candidates are complete and
    * each pair meets on exactly one key — the left row's bucket), then
    * the exact predicate filters the candidates. Cost: 3× the right side
    * through one hash shuffle, candidates proportional to true matches
    * when values spread beyond a few buckets (time-series pairing,
    * value-tolerance reconciliation). Plan-asserted nested-loop-free.
    * `leftOn`/`rightOn` must be integral (epoch micros, cents); column
    * names must be disjoint — alias upstream. */
  def bandJoin(left: DataFrame, right: DataFrame, leftOn: String,
               rightOn: String, band: Long): DataFrame = {
    require(band > 0, s"bandJoin: need band > 0, got $band")
    val lb = left.withColumn("__band", floorDivExact(col(leftOn), band))
    val rBucket = floorDivExact(col(rightOn), band)
    val rb = right.withColumn("__band",
      explode(array(rBucket - 1, rBucket, rBucket + 1)))
    lb.join(rb, "__band")
      .filter(abs(col(leftOn) - col(rightOn)) <= band)
      .drop("__band")
  }

  /** Interval-overlap join: all (l, r) pairs whose [start, end] intervals
    * intersect (closed ends, integral units — epoch micros, cents). The
    * generalization of [[bandJoin]] to VARIABLE-length intervals, which a
    * fixed band cannot express: a bare `ls <= re AND rs <= le` theta join
    * plans as BroadcastNestedLoopJoin, O(|L|·|R|).
    *
    * Binned rewrite: both sides fan out to every width-`bucketWidth`
    * bucket their interval touches (`sequence(floor(s/w), floor(e/w))` —
    * fan-out = span/width + 1, so pick width near the typical span), meet
    * on an EQUI key, and each overlapping pair is emitted EXACTLY once
    * without any dedup shuffle: overlap means both sides cover the bucket
    * containing `greatest(ls, rs)`, so the pair is kept only in that
    * bucket. One hash shuffle per side, candidates localized to
    * co-bucketed intervals. Column names must be disjoint — alias
    * upstream. Intervals must satisfy start ≤ end (filter upstream). */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
                          lStart: String, lEnd: String,
                          rStart: String, rEnd: String,
                          bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"intervalOverlapJoin: need bucketWidth > 0, got $bucketWidth")
    def buckets(s: Column, e: Column): Column =
      sequence(floorDivExact(s, bucketWidth), floorDivExact(e, bucketWidth))
    val lb = left.withColumn("__ib", explode(buckets(col(lStart), col(lEnd))))
    val rb = right.withColumn("__ib", explode(buckets(col(rStart), col(rEnd))))
    lb.join(rb, "__ib")
      .filter(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd) &&
        col("__ib") === floorDivExact(greatest(col(lStart), col(rStart)), bucketWidth))
      .drop("__ib")
  }

  /** Upsert / merge-by-key (the MERGE INTO dataflow, minus a table format's
    * transaction log): matched keys take the ENTIRE update row (row-wise
    * replace — an update column that is genuinely NULL still wins),
    * unmatched target rows pass through, update rows with brand-new keys
    * are appended. One full-outer equi-join: each side shuffles once on the
    * key, AQE handles skew, and nothing collects to the driver — the shape
    * that holds for a 100 TB target with a 1% daily delta (broadcast the
    * update side upstream if it is dimension-sized). Output schema =
    * target schema; `updates` must contain all target columns.
    *
    * PRECONDITION: `updates` must carry at most ONE row per key — a
    * duplicate update key fans out the full-outer join and multiplies the
    * matched target row. Pre-aggregate (`dropDuplicates(keys)` or a
    * keep-latest window) upstream; this function does not dedup for you,
    * because silently picking a survivor would hide a data bug. */
  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val t = target.alias("__t")
    val u = updates.alias("__u")
    val cond = keys.map(k => col(s"__t.$k") === col(s"__u.$k")).reduce(_ && _)
    // matched ⇔ the update side's key is present (keys are non-null by
    // definition of a merge key)
    val matched = keys.map(k => col(s"__u.$k").isNotNull).reduce(_ && _)
    val cols = target.columns.toSeq.map { c =>
      when(matched, col(s"__u.$c")).otherwise(col(s"__t.$c")).alias(c)
    }
    t.join(u, cond, "full_outer").select(cols: _*)
  }

  /** As-of join (left): for each left row, attach the `payload` columns of
    * the LATEST right row with the same `keys` and `rightTs` ≤ `leftTs`.
    *
    * Implemented as union → one window pass (partition by keys, order by
    * (ts, right-before-left), last(payload, ignoreNulls) carried forward)
    * rather than a range join: ONE shuffle on the keys, no candidate-pair
    * explosion, linear in |left|+|right| — the shape that survives 100 TB
    * of events. At equal timestamps the right row is eligible (≤, matching
    * SQL ASOF semantics).
    *
    * All payload columns ride in ONE struct with a non-null marker field,
    * and `last(ignoreNulls)` carries that single struct forward: a right
    * row whose payload value is genuinely NULL still matches (the struct
    * itself is non-null), and multi-column payloads are guaranteed
    * row-consistent — one window expression total. Duplicate right rows
    * per (keys, rightTs) should be pre-aggregated for a deterministic
    * result. */
  def asOf(left: DataFrame, right: DataFrame, keys: Seq[String],
           leftTs: String, rightTs: String, payload: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
    val payloadType = StructType(
      StructField("__m", BooleanType, nullable = false) +:
        payload.map(p => right.schema(p)))
    val carry = left.columns.toSeq.filterNot(keys.contains)
    val lSel = keys.map(col) ++
      Seq(col(leftTs).alias("__ts"), lit(0).alias("__side")) ++
      carry.map(col) :+
      lit(null).cast(payloadType).alias("__p")
    val rSel = keys.map(col) ++
      Seq(col(rightTs).alias("__ts"), lit(1).alias("__side")) ++
      carry.map(c => lit(null).cast(left.schema(c).dataType).alias(c)) :+
      struct(lit(true).alias("__m") +: payload.map(col): _*).alias("__p")
    val u = left.select(lSel: _*).unionByName(right.select(rSel: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    u.withColumn("__p", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 0)
      .select(keys.map(col) ++ carry.map(col) ++
        payload.map(p => col("__p").getField(p).alias(p)): _*)
  }

  /** Exact floor-division for 64-bit bucket keys. Spark evaluates `/` on
    * longs as DOUBLE division, so `floor(key / width)` can round to the
    * wrong bucket once |key| passes 2^53 and silently drop true pairs.
    * Subtracting the non-negative `pmod` first makes the dividend exactly
    * divisible, and doing that subtraction and the division in
    * DECIMAL(38,0) keeps every intermediate exact for the full long
    * range (including Long.MinValue, where a long-typed subtraction
    * would underflow). Still codegen'd arithmetic — no UDF. */
  private def floorDivExact(a: Column, b: Long): Column =
    ((a.cast("decimal(38,0)") - pmod(a, lit(b)).cast("decimal(38,0)")) /
      lit(b).cast("decimal(19,0)")).cast("long")

  /** Geospatial neighbor self-join — every unordered point pair within
    * `radiusKm` (haversine) — as ONE hash equi-join on grid cells: the
    * 2-D sibling of [[bandJoin]]. The left side keeps its own cell; the
    * right side fans out to its 3×3 cell neighborhood, so each candidate
    * pair meets exactly once in the left point's cell and `k1 < k2`
    * keeps one orientation. Cell edge = 2·radius/111° so the 3×3 block
    * covers the radius in longitude up to |lat| ≤ 60° (points beyond are
    * filtered out and documented — pole-adjacent longitude shrink would
    * need latitude-banded cells). Candidates ∝ local density × true
    * matches, never n²; the exact haversine filter runs codegen'd on
    * equi-join survivors only. */
  def geoNeighborPairs(df: DataFrame, keyCol: String, latCol: String,
                       lonCol: String, radiusKm: Double): DataFrame = {
    require(radiusKm > 0 && radiusKm <= 1000, s"geoNeighborPairs: bad radius $radiusKm")
    val cellDeg = 2.0 * radiusKm / 111.0
    // Longitude cells are MODULAR so pairs straddling the ±180° seam
    // still meet (the brute-force oracle finds them; a flat grid
    // wouldn't). Latitude cells don't wrap.
    val nLonCells = math.ceil(360.0 / cellDeg).toLong
    val pts = df.select(col(keyCol).alias("__k"),
        col(latCol).cast("double").alias("__lat"),
        col(lonCol).cast("double").alias("__lon"))
      .filter(abs(col("__lat")) <= 60.0)
    def cellLat(c: Column) = floor(c / cellDeg).cast("long")
    def cellLon(c: Column) = floor((c + lit(180.0)) / cellDeg).cast("long")
    val left = pts.select(col("__k").alias("__k1"),
      col("__lat").alias("__lat1"), col("__lon").alias("__lon1"),
      cellLat(col("__lat")).alias("__cy"), cellLon(col("__lon")).alias("__cx"))
    val right = pts.select(col("__k").alias("__k2"),
        col("__lat").alias("__lat2"), col("__lon").alias("__lon2"),
        explode(array((-1 to 1).map(d => cellLat(col("__lat")) + d): _*))
          .alias("__cy"))
      .select(col("__k2"), col("__lat2"), col("__lon2"), col("__cy"),
        explode(array((-1 to 1).map(d =>
          pmod(cellLon(col("__lon2")) + d, lit(nLonCells))): _*))
          .alias("__cx"))
    val rad = lit(math.Pi) / lit(180.0)
    val dLat = (col("__lat2") - col("__lat1")) * rad / lit(2.0)
    val dLon = (col("__lon2") - col("__lon1")) * rad / lit(2.0)
    val h = sin(dLat) * sin(dLat) +
      cos(col("__lat1") * rad) * cos(col("__lat2") * rad) * sin(dLon) * sin(dLon)
    val distKm = lit(2.0) * lit(6371.0) * asin(sqrt(h))
    left.join(right, Seq("__cy", "__cx"))
      .filter(col("__k1") < col("__k2"))
      .filter(distKm <= radiusKm)
      .select(col("__k1").alias("k1"), col("__k2").alias("k2"),
        round(distKm, 6).alias("dist_km"))
      .orderBy("k1", "k2")
  }
}
