package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VecMath
import graft.ops.Similarity

/** Round-19 kernel ⇔ HOF equivalence: every VecMath codegen kernel must be
  * bit-identical to the higher-order-function composition it replaced in
  * the ANN hot path, INCLUDING the degenerate inputs the fixtures never
  * produce (null vectors, null elements, mismatched lengths, empty
  * centroid sets, NaN/±Inf/-0.0) — those pin the semantics so a future
  * Spark upgrade or kernel edit can't silently drift the declared
  * queries. The HOF twins below are verbatim copies of the pre-round-19
  * formulations in Similarity.scala. */
class VecMathSpec extends AnyFunSuite with SparkSpec {

  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def hofSqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0),
      (acc, x) => acc + x)

  private def hofLshBucket(v: Column, dim: Int, nPlanes: Int,
                           planeOffset: Int): Column = {
    val bits = (0 until nPlanes).map { i =>
      val plane = (0 until dim).map(d =>
        Similarity.planeSign(planeOffset + i, d)).toArray
      val proj = aggregate(zip_with(v, typedlit(plane), (x, w) => x * w),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  private def hofNearest(v: Column, cents: Column): Column =
    array_min(transform(cents,
      c => struct(hofSqDist(v, c.getField("cv")).alias("d"),
        c.getField("cid").alias("cid"))))

  private def hofOwn(v: Column, cents: Column, cell: Column): Column =
    hofSqDist(v, element_at(filter(cents,
      c => c.getField("cid") === cell), 1).getField("cv"))

  private def hofOther(v: Column, cents: Column, cell: Column): Column =
    array_min(transform(filter(cents,
      c => c.getField("cid") =!= cell),
      c => hofSqDist(v, c.getField("cv"))))

  private def hofNormalize(v: Column): Column =
    transform(v, x => x / sqrt(hofDot(v, v)))

  private val arrT = ArrayType(DoubleType, containsNull = true)

  /** Deterministic pseudo-random vector (no RNG state in tests). */
  private def vec(seed: Int, dim: Int): Seq[java.lang.Double] =
    (0 until dim).map { d =>
      val h = (seed * 1315423911L + d * 2654435761L) & 0xffffffffL
      java.lang.Double.valueOf(h.toDouble / (1L << 31).toDouble - 1.0)
    }

  /** Vector pairs: 30 well-formed + every edge shape. */
  private def pairRows: Seq[Row] = {
    val normal = (0 until 30).map(i => Row(vec(i, 8), vec(i + 100, 8)))
    val edges = Seq(
      Row(null, vec(1, 8)), // null side
      Row(vec(2, 8), null),
      Row(vec(3, 8), vec(4, 6)), // length mismatch
      Row(vec(5, 4), vec(6, 8)),
      Row(Seq[java.lang.Double](), Seq[java.lang.Double]()), // empty → 0.0
      Row(Seq[java.lang.Double](1.0, null, 3.0), vec(7, 3)), // null elem
      Row(vec(8, 3), Seq[java.lang.Double](null, null, null)),
      Row(Seq[java.lang.Double](Double.NaN, 1.0), // NaN / ±Inf / -0.0
        Seq[java.lang.Double](2.0, Double.PositiveInfinity)),
      Row(Seq[java.lang.Double](-0.0, 0.0), Seq[java.lang.Double](0.0, -0.0)),
      Row(Seq[java.lang.Double](1e308, 1e308), Seq[java.lang.Double](10.0, 10.0)))
    normal ++ edges
  }

  private def pairDf = spark.createDataFrame(
    spark.sparkContext.parallelize(pairRows, 2),
    StructType(Seq(StructField("a", arrT), StructField("b", arrT))))

  /** Bit-exact structural equality: doubles via Double.compare (NaN equals
    * NaN; -0.0 does NOT equal 0.0 — sign drift must fail), seqs
    * elementwise. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (u, w) => same(u, w) }
    case (x, y) => x == y
  }

  private def assertSame(rows: Array[Row]): Unit =
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(same(r.get(0), r.get(1)), s"row $i: kernel=${r.get(0)} hof=${r.get(1)}")
    }

  test("dot kernel ≡ aggregate(zip_with) fold, including degenerates") {
    assertSame(pairDf.select(
      VecMath.dot(col("a"), col("b")),
      hofDot(col("a"), col("b"))).collect())
  }

  test("sq_dist kernel ≡ aggregate(zip_with) fold, including degenerates") {
    assertSame(pairDf.select(
      VecMath.sq_dist(col("a"), col("b")),
      hofSqDist(col("a"), col("b"))).collect())
  }

  test("lsh_bucket kernel ≡ per-plane when/aggregate composition") {
    val dim = 8
    // includes: null vector, wrong length, null element (→ bucket 0),
    // NaN projection (nan-safe `> 0` is TRUE — the bit must be set)
    val vs = (0 until 30).map(i => Row(vec(i, dim))) ++ Seq(
      Row(null), Row(vec(1, 5)), Row(Seq[java.lang.Double](1.0, null) ++ vec(2, 6).drop(2)),
      Row(Seq[java.lang.Double](Double.NaN) ++ vec(3, dim).drop(1)),
      Row(Seq.fill[java.lang.Double](dim)(0.0)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vs, 2),
      StructType(Seq(StructField("v", arrT))))
    for (offset <- Seq(0, 8)) {
      val rows = df.select(
        Similarity.lshBucket(col("v"), dim, 4, offset),
        hofLshBucket(col("v"), dim, 4, offset)).collect()
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(0) == r.getLong(1), s"offset $offset row $i: $r")
      }
    }
  }

  test("lsh_bucket rejects non-array<double> input at analysis time") {
    import spark.implicits._
    val df = Seq(("a", Seq(1, 2), Seq(1.0f, 2.0f))).toDF("s", "ints", "floats")
    for (c <- Seq("s", "ints", "floats")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(Similarity.lshBucket(col(c), 2, 2))
      }
      assert(e.getMessage.contains("lsh_bucket needs array<double>"), e.getMessage)
    }
    // bit 63 is the sign bit of the bigint bucket
    intercept[IllegalArgumentException](Similarity.lshBucket(col("v"), 1, 64))
    Similarity.lshBucket(col("v"), 1, 63)
  }

  private val centsT = ArrayType(StructType(Seq(
    StructField("cid", LongType), StructField("cv", arrT))), containsNull = true)

  private def centRows: Seq[Row] = {
    val cents3 = Seq(Row(10L, vec(40, 8)), Row(2L, vec(41, 8)), Row(7L, vec(42, 8)))
    // two centroids at the SAME point → d tie, cid must break it
    val tied = Seq(Row(9L, vec(50, 8)), Row(3L, vec(50, 8)))
    val withNullCv = Seq(Row(5L, null), Row(6L, vec(43, 8)))
    val single = Seq(Row(4L, vec(44, 8)))
    Seq(
      Row(vec(60, 8), cents3, 2L),
      Row(vec(61, 8), cents3, 10L),
      Row(vec(62, 8), tied, 9L),
      Row(vec(63, 8), withNullCv, 6L), // null cv → null d sorts FIRST
      Row(vec(64, 8), single, 4L), // no "other" centroid
      Row(vec(65, 8), cents3, 99L), // cell absent from cents
      Row(null, cents3, 2L), // null vector → null d, min cid
      Row(vec(66, 6), cents3, 2L), // length mismatch → null d
      Row(vec(67, 8), Seq[Row](), 2L), // empty cents → null
      Row(vec(68, 8), null, 2L)) // null cents → null
  }

  private def centDf = spark.createDataFrame(
    spark.sparkContext.parallelize(centRows, 2),
    StructType(Seq(StructField("v", arrT), StructField("cents", centsT),
      StructField("cell", LongType))))

  test("nearest_centroid kernel ≡ array_min(transform(struct)) argmin") {
    val rows = centDf.select(
      VecMath.nearest_centroid(col("v"), col("cents")).alias("k"),
      hofNearest(col("v"), col("cents")).alias("h")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      val k = r.getStruct(0)
      val h = r.getStruct(1)
      if (k == null || h == null) assert(k == null && h == null, s"row $i: $r")
      else {
        assert(k.get(0) == h.get(0), s"row $i d: $r")
        assert(k.get(1) == h.get(1), s"row $i cid: $r")
      }
    }
  }

  test("own_other_sqdist kernel ≡ filter/element_at + array_min(transform)") {
    val rows = centDf.select(
      VecMath.own_other_sqdist(col("v"), col("cents"), col("cell")).alias("k"),
      hofOwn(col("v"), col("cents"), col("cell")).alias("own"),
      hofOther(col("v"), col("cents"), col("cell")).alias("other")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      val k = r.getStruct(0)
      assert(k.get(0) == r.get(1), s"row $i own: $r")
      assert(k.get(1) == r.get(2), s"row $i other: $r")
    }
  }

  test("l2_normalize kernel ≡ transform-divide, incl. zero norm and nulls") {
    val vs = (0 until 20).map(i => Row(vec(i, 8))) ++ Seq(
      Row(Seq.fill[java.lang.Double](4)(0.0)), // zero norm → null elements
      Row(Seq[java.lang.Double](1.0, null, 2.0)), // null elem → all null
      Row(Seq[java.lang.Double]()), Row(null),
      Row(Seq[java.lang.Double](Double.PositiveInfinity, 1.0)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vs, 2),
      StructType(Seq(StructField("v", arrT))))
    assertSame(df.select(
      VecMath.l2_normalize(col("v")),
      hofNormalize(col("v"))).collect())
  }

  test("quant_dequant kernel ≡ zip_with when/round/least/greatest map") {
    def hofQuant(v: Column, sv: Column): Column =
      zip_with(v, sv, (x, s) =>
        when(s === 0.0, lit(0.0)).otherwise(
          greatest(least(round(x / s, 0), lit(127.0)), lit(-127.0)) * s))
    val rows = (0 until 20).map(i => Row(vec(i, 8),
      vec(i + 200, 8).map(d => java.lang.Double.valueOf(math.abs(d) / 127.0)))) ++ Seq(
      // zero / negative-zero scales; null scale; null x (→ 127·s);
      // saturation both ways; exact .5 rounding boundary; NaN/Inf ratios;
      // length mismatches (zip_with null padding)
      Row(Seq[java.lang.Double](1.0, 2.0, 3.0),
        Seq[java.lang.Double](0.0, -0.0, 0.5)),
      Row(Seq[java.lang.Double](1.0, null, 3.0),
        Seq[java.lang.Double](0.25, 0.25, null)),
      Row(Seq[java.lang.Double](1000.0, -1000.0, 63.75, -63.75),
        Seq[java.lang.Double](0.5, 0.5, 0.5, 0.5)),
      Row(Seq[java.lang.Double](Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity), Seq[java.lang.Double](1.0, 1.0, 1.0)),
      Row(Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](0.5)),
      Row(Seq[java.lang.Double](1.0), Seq[java.lang.Double](0.5, 0.25)),
      Row(null, Seq[java.lang.Double](1.0)),
      Row(Seq[java.lang.Double](1.0), null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("v", arrT), StructField("s", arrT))))
    assertSame(df.select(
      VecMath.quant_dequant(col("v"), col("s")),
      hofQuant(col("v"), col("s"))).collect())
  }

  test("asDouble cast ≡ per-element transform cast on float arrays") {
    val fT = ArrayType(FloatType, containsNull = true)
    val vs = Seq(
      Row(Seq[java.lang.Float](1.5f, -2.25f, 3.7f)),
      Row(Seq[java.lang.Float](java.lang.Float.valueOf(Float.NaN), 0.1f)),
      Row(Seq[java.lang.Float](null, 1.0f)),
      Row(Seq[java.lang.Float]()), Row(null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vs, 2),
      StructType(Seq(StructField("v", fT))))
    assertSame(df.select(
      Similarity.asDouble(col("v")),
      transform(col("v"), x => x.cast("double"))).collect())
  }

  test("cooc_pairs kernel ≡ nested transform/sequence pair expression") {
    def hofPairs(toks: Column, window: Int): Column =
      flatten(transform(sequence(lit(1), size(toks) - 1), i =>
        transform(sequence(lit(1), least(lit(window), size(toks) - i)), d =>
          struct(element_at(toks, i).alias("w1"),
            element_at(toks, i + d).alias("w2"),
            d.alias("d")))))
    val sT = ArrayType(StringType, containsNull = true)
    def words(seed: Int, n: Int): Seq[String] =
      (0 until n).map(i => s"w${(seed * 31 + i * 7) % 13}")
    // the operator guards size >= 2 before the explode — equivalence is
    // asserted on that domain (n < 2 hits Spark's DESCENDING sequence
    // edge; the kernel returns empty, asserted separately below)
    val rows = (2 to 24).map(n => Row(words(n, n))) ++
      Seq(Row(Seq("a", null, "b", "c")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("t", sT))))
    for (w <- Seq(1, 4, 16)) {
      val got = df.select(
        graft.functions.TextStats.cooc_pairs(col("t"), w).alias("k"),
        hofPairs(col("t"), w).alias("h")).collect()
      got.zipWithIndex.foreach { case (r, i) =>
        val k = r.getSeq[Row](0)
        val h = if (r.isNullAt(1)) null else r.getSeq[Row](1)
        if (k == null || h == null) assert(k == null && h == null, s"w=$w row $i")
        else {
          assert(k.length == h.length, s"w=$w row $i: ${k.length} vs ${h.length}")
          k.zip(h).foreach { case (a, b) =>
            assert(a.get(0) == b.get(0) && a.get(1) == b.get(1) &&
              a.get(2) == b.get(2), s"w=$w row $i: $a vs $b")
          }
        }
      }
    }
    val tiny = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(Seq[String]()), Row(Seq("solo"))), 1),
      StructType(Seq(StructField("t", sT))))
    tiny.select(graft.functions.TextStats.cooc_pairs(col("t"), 4)).collect()
      .foreach(r => assert(r.getSeq[Row](0).isEmpty))
    // null token array: the kernel null-propagates; the HOF form instead
    // hits legacy size(null) = -1 and fabricates descending-sequence
    // (null, null, d) pairs — unreachable in the operator, which filters
    // text IS NOT NULL before building toks (domain noted in the kernel
    // scaladoc)
    val nul = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(null)), 1),
      StructType(Seq(StructField("t", sT))))
    assert(nul.select(graft.functions.TextStats.cooc_pairs(col("t"), 4))
      .collect().head.isNullAt(0))
  }

  test("word_bigrams kernel ≡ when/transform/sequence concat_ws form") {
    def hofBigrams(toks: Column, sep: String): Column =
      when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(sep, element_at(toks, i), element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>"))
    val sT = ArrayType(StringType, containsNull = true)
    val rows = (2 to 20).map(n => Row((0 until n).map(i => s"t${i % 7}"))) ++
      Seq(Row(Seq("a", null, "b", null, null, "c")), // concat_ws null skips
        Row(Seq[String]()), Row(Seq("solo")),
        Row(null)) // null array → EMPTY (legacy size(null) = -1 branch)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("t", sT))))
    for (sep <- Seq(" ", "_")) {
      assertSame(df.select(
        graft.ops.ScaleDedup.wordBigrams(col("t"), sep),
        hofBigrams(col("t"), sep)).collect())
    }
  }

  test("kernel projection compiles into a whole-stage-codegen'd Project") {
    val plan = pairDf.select(
      VecMath.dot(col("a"), col("b")).alias("d"),
      VecMath.sq_dist(col("a"), col("b")).alias("s"),
      Similarity.lshBucket(col("a"), 8, 4).alias("bkt"),
      VecMath.l2_normalize(col("a")).alias("n"))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix is the WholeStageCodegen marker in plan strings
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined, plan)
  }
}
