package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Scalar kernels for the embedding-space hot path (round 19).
  *
  * The ANN family's per-row math was written as higher-order array
  * functions (`aggregate(zip_with(...))`, `array_min(transform(...))`).
  * HOFs are CodegenFallback in Spark: every lambda invocation is an
  * interpreted `Expression.eval` per array ELEMENT — for a 64-dim vector
  * against 8 centroids that is ~1.5k interpreted evals per corpus row on
  * the most compute-dense scans in the registry. Each kernel below is the
  * one-pass compiled twin of exactly one HOF composition, bit-identical
  * by construction (same IEEE double op order, same null semantics —
  * documented per kernel and pinned by VecMathSpec's HOF-vs-kernel
  * cross-validation), and keeps the surrounding projection inside
  * whole-stage codegen (the MinHashSig/SimHash/TextStats pattern).
  */
object VecMathKernel {

  /** dot ≡ `aggregate(zip_with(a,b,(x,y)=>x*y), 0.0, (acc,x)=>acc+x)`:
    * zip_with pads the shorter array with null and a null product poisons
    * the running sum permanently, so the fold is null iff the lengths
    * differ or any element in either array is null; otherwise it is the
    * strictly sequential sum of products (addition order preserved — the
    * engine-determinism contract of `Similarity.dot`). */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (a == null || b == null) return null
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** sqDist ≡ `aggregate(zip_with(a,b,(x,y)=>(x-y)*(x-y)), 0.0, _+_)` —
    * same null/length/order semantics as [[dot]]. */
  def sqDist(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (a == null || b == null) return null
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** lshBucket ≡ Σ_i `when(proj_i > 0, 1L << i).otherwise(0L)` where
    * proj_i = [[dot]](v, plane_i): a null projection (null/mismatched
    * vector) contributes 0 — the bucket is always non-null — and the
    * `> 0` comparison follows Spark's nan-safe double semantics (NaN
    * compares greater than zero; -0.0 equals 0.0). `planes` is the
    * nPlanes×dim matrix flattened row-major. */
  def lshBucket(v: ArrayData, planes: Array[Double], nPlanes: Int,
                dim: Int): Long = {
    if (v == null || v.numElements() != dim) return 0L
    val xs = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return 0L
      xs(i) = v.getDouble(i)
      i += 1
    }
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      var acc = 0.0
      val off = p * dim
      var d = 0
      while (d < dim) {
        acc += xs(d) * planes(off + d)
        d += 1
      }
      if (acc > 0.0 || java.lang.Double.isNaN(acc)) bucket += (1L << p)
      p += 1
    }
    bucket
  }

  /** Nearest centroid ≡ `array_min(transform(cents, c =>
    * struct(sqDist(v, c.cv) AS d, c.cid AS cid)))` over
    * cents: array<struct<cid: bigint, cv: array<double>>>. Struct min is
    * lexicographic (d, cid) ascending with a null FIELD sorting first
    * (Spark's interpreted struct ordering), doubles compared with
    * total-order semantics (Double.compare: NaN greatest) — null d (a
    * null/mismatched vector) therefore WINS the min with ties broken on
    * cid, exactly as the HOF form. Returns null iff cents is empty;
    * a null element of cents contributes the (null, null) candidate the
    * lambda would produce. */
  def nearestCentroid(v: ArrayData, cents: ArrayData): InternalRow = {
    if (cents == null) return null
    val n = cents.numElements()
    if (n == 0) return null
    var bestD: java.lang.Double = null
    var bestCid: java.lang.Long = null
    var init = false
    var i = 0
    while (i < n) {
      var d: java.lang.Double = null
      var cid: java.lang.Long = null
      if (!cents.isNullAt(i)) {
        val c = cents.getStruct(i, 2)
        cid = if (c.isNullAt(0)) null else java.lang.Long.valueOf(c.getLong(0))
        val cv = if (c.isNullAt(1)) null else c.getArray(1)
        d = sqDist(v, cv)
      }
      val take = if (!init) true else {
        val cd = cmpNullFirstD(d, bestD)
        cd < 0 || (cd == 0 && cmpNullFirstL(cid, bestCid) < 0)
      }
      if (take) { bestD = d; bestCid = cid; init = true }
      i += 1
    }
    new GenericInternalRow(Array[Any](bestD, bestCid))
  }

  /** Own-cell and nearest-other-cell squared distances in one pass —
    * the [[Similarity.clusterQualityReport]] silhouette inputs:
    *   own   ≡ sqDist(v, element_at(filter(cents, cid === cell), 1).cv)
    *   other ≡ array_min(transform(filter(cents, cid =!= cell),
    *                               c => sqDist(v, c.cv)))
    * `filter` drops null elements / null cids (the === / =!= predicate is
    * null there); element_at of an empty filter result is null (non-ANSI),
    * making own null; array_min over plain doubles SKIPS nulls and is null
    * when nothing remains. A null cell makes both null. The struct itself
    * is never null. */
  def ownOtherSqDist(v: ArrayData, cents: ArrayData,
                     cell: java.lang.Long): InternalRow = {
    var own: java.lang.Double = null
    var other: java.lang.Double = null
    if (cents != null && cell != null) {
      val target = cell.longValue()
      var foundOwn = false
      val n = cents.numElements()
      var i = 0
      while (i < n) {
        if (!cents.isNullAt(i)) {
          val c = cents.getStruct(i, 2)
          if (!c.isNullAt(0)) {
            val cid = c.getLong(0)
            val cv = if (c.isNullAt(1)) null else c.getArray(1)
            if (cid == target) {
              if (!foundOwn) { own = sqDist(v, cv); foundOwn = true }
            } else {
              val d = sqDist(v, cv)
              if (d != null &&
                (other == null || java.lang.Double.compare(d, other) < 0))
                other = d
            }
          }
        }
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](own, other))
  }

  /** l2Normalize ≡ `transform(v, x => x / sqrt(dot(v, v)))`: any null
    * element nulls the norm and hence EVERY output element; a zero norm
    * nulls every element too (Spark's non-ANSI divide-by-zero → null);
    * otherwise out_i = v_i / sqrt(Σ v_j²) with the sum folded in element
    * order. The HOF form re-evaluates the interpreted dot fold per
    * ELEMENT — O(dim²) per row; this kernel is the O(dim) twin. */
  def l2Normalize(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var anyNull = false
    var sum = 0.0
    var i = 0
    while (i < n && !anyNull) {
      if (v.isNullAt(i)) anyNull = true
      else { val x = v.getDouble(i); sum += x * x }
      i += 1
    }
    val out = new Array[Any](n)
    if (!anyNull) {
      val nrm = math.sqrt(sum)
      if (nrm != 0.0) {
        var j = 0
        while (j < n) {
          out(j) = java.lang.Double.valueOf(v.getDouble(j) / nrm)
          j += 1
        }
      }
    }
    new GenericArrayData(out)
  }

  /** quantDequant ≡ `zip_with(v, sv, (x, s) => when(s === 0.0, 0.0)
    * .otherwise(greatest(least(round(x / s, 0), 127.0), -127.0) * s))` —
    * the symmetric-int8 quantize/dequantize element map. Faithful to
    * every HOF corner: zip_with pads the shorter array with null; a null
    * scale nulls the element; s === 0.0 matches -0.0 too; a null x
    * yields 127·s (least/greatest SKIP nulls); round(·, 0) is Spark's
    * HALF_UP via BigDecimal with NaN/±Inf passed through; least treats
    * NaN as greatest. */
  def quantDequant(v: ArrayData, sv: ArrayData): ArrayData = {
    val nv = v.numElements()
    val ns = sv.numElements()
    val n = math.max(nv, ns)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (i >= ns || sv.isNullAt(i)) out(i) = null
      else {
        val s = sv.getDouble(i)
        if (s == 0.0) out(i) = java.lang.Double.valueOf(0.0)
        else {
          val q = if (i >= nv || v.isNullAt(i)) 127.0 else {
            val d = v.getDouble(i) / s
            val r =
              if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
              else java.math.BigDecimal.valueOf(d)
                .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
            val lo = if (java.lang.Double.isNaN(r) ||
              java.lang.Double.compare(r, 127.0) > 0) 127.0 else r
            if (java.lang.Double.compare(lo, -127.0) < 0) -127.0 else lo
          }
          out(i) = java.lang.Double.valueOf(q * s)
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Null-first comparator matching Spark's struct-field ordering for
    * nullable doubles (Double.compare total order: NaN greatest). */
  private def cmpNullFirstD(a: java.lang.Double, b: java.lang.Double): Int =
    if (a == null && b == null) 0
    else if (a == null) -1
    else if (b == null) 1
    else java.lang.Double.compare(a.doubleValue(), b.doubleValue())

  private def cmpNullFirstL(a: java.lang.Long, b: java.lang.Long): Int =
    if (a == null && b == null) 0
    else if (a == null) -1
    else if (b == null) 1
    else java.lang.Long.compare(a.longValue(), b.longValue())
}

/** Codegen'd sequential-fold dot product (see [[VecMathKernel.dot]]). */
case class DotExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecMathKernel.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("dotRes")
      s"""
        java.lang.Double $tmp = graft.functions.VecMathKernel.dot($a, $b);
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $tmp.doubleValue(); }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotExpr =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd sequential-fold squared L2 distance
  * (see [[VecMathKernel.sqDist]]). */
case class SqDistExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_sqdist"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecMathKernel.sqDist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("sqdRes")
      s"""
        java.lang.Double $tmp = graft.functions.VecMathKernel.sqDist($a, $b);
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $tmp.doubleValue(); }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistExpr =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd all-planes LSH bucket (see [[VecMathKernel.lshBucket]]).
  * NOT null-propagating: a null vector hashes to bucket 0 exactly as the
  * when/otherwise HOF composition does. `planes` is flattened row-major
  * (a Seq so expression equality stays structural). */
case class LshBucketExpr(child: Expression, planes: Seq[Double], nPlanes: Int,
                         dim: Int) extends UnaryExpression {
  require(planes.length == nPlanes * dim,
    s"lsh_bucket: ${planes.length} plane weights != $nPlanes x $dim")
  // bit p of the bucket is plane p's sign; bit 63 would make it negative
  require(nPlanes <= 63, s"lsh_bucket: nPlanes $nPlanes > 63 overflows a bigint bucket")

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "lsh_bucket"

  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"lsh_bucket needs array<double>, got ${other.catalogString}")
  }

  @transient private lazy val planesArr: Array[Double] = planes.toArray

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    VecMathKernel.lshBucket(v.asInstanceOf[ArrayData], planesArr, nPlanes, dim)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("planes", planesArr, "double[]")
    val call = s"graft.functions.VecMathKernel.lshBucket(" +
      s"${c.isNull} ? null : ${c.value}, $ref, $nPlanes, $dim)"
    ev.copy(
      code = code"""
        ${c.code}
        long ${ev.value} = $call;
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucketExpr =
    copy(child = newChild)
}

/** Codegen'd broadcast-argmin cell assignment
  * (see [[VecMathKernel.nearestCentroid]]). Null only when the centroid
  * array itself is null or empty; a null VECTOR still picks the lowest
  * cid (null distance sorts first), as the HOF form does. */
case class NearestCentroidExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("d", DoubleType, nullable = true),
    StructField("cid", LongType, nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes() = {
    val ok = left.dataType.isInstanceOf[ArrayType] &&
      left.dataType.asInstanceOf[ArrayType].elementType == DoubleType &&
      (right.dataType match {
        case ArrayType(StructType(fs), _) if fs.length == 2 =>
          fs(0).dataType == LongType &&
            (fs(1).dataType match {
              case ArrayType(DoubleType, _) => true
              case _ => false
            })
        case _ => false
      })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid needs (array<double>, array<struct<bigint, array<double>>>), " +
        s"got (${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override def eval(input: InternalRow): Any = {
    val cents = right.eval(input)
    if (cents == null) null
    else VecMathKernel.nearestCentroid(
      left.eval(input).asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lg = left.genCode(ctx)
    val rg = right.genCode(ctx)
    val call = s"graft.functions.VecMathKernel.nearestCentroid(" +
      s"${lg.isNull} ? null : ${lg.value}, ${rg.value})"
    ev.copy(code = code"""
      ${lg.code}
      ${rg.code}
      boolean ${ev.isNull} = true;
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} = null;
      if (!${rg.isNull}) {
        ${ev.value} = $call;
        ${ev.isNull} = (${ev.value} == null);
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroidExpr =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd one-pass own/nearest-other squared distances
  * (see [[VecMathKernel.ownOtherSqDist]]). Never null itself; fields are
  * null under exactly the HOF composition's conditions. */
case class OwnOtherSqDistExpr(first: Expression, second: Expression,
                              third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("own_sq", DoubleType, nullable = true),
    StructField("other_sq", DoubleType, nullable = true)))
  override def nullable: Boolean = false
  override def prettyName: String = "own_other_sqdist"

  override def eval(input: InternalRow): Any = {
    val v = first.eval(input)
    val cents = second.eval(input)
    val cell = third.eval(input)
    VecMathKernel.ownOtherSqDist(
      if (v == null) null else v.asInstanceOf[ArrayData],
      if (cents == null) null else cents.asInstanceOf[ArrayData],
      if (cell == null) null else java.lang.Long.valueOf(cell.asInstanceOf[Long]))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vg = first.genCode(ctx)
    val cg = second.genCode(ctx)
    val lg = third.genCode(ctx)
    val call = s"graft.functions.VecMathKernel.ownOtherSqDist(" +
      s"${vg.isNull} ? null : ${vg.value}, " +
      s"${cg.isNull} ? null : ${cg.value}, " +
      s"${lg.isNull} ? null : java.lang.Long.valueOf(${lg.value}))"
    ev.copy(
      code = code"""
        ${vg.code}
        ${cg.code}
        ${lg.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} = $call;
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): OwnOtherSqDistExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Codegen'd int8 quantize/dequantize element map
  * (see [[VecMathKernel.quantDequant]]). */
case class QuantDequantExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "quant_dequant"

  override def nullSafeEval(v: Any, sv: Any): Any =
    VecMathKernel.quantDequant(
      v.asInstanceOf[ArrayData], sv.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VecMathKernel.quantDequant($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantDequantExpr =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd L2 normalization (see [[VecMathKernel.l2Normalize]]). */
case class L2NormalizeExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "l2_normalize"

  override def nullSafeEval(v: Any): Any =
    VecMathKernel.l2Normalize(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VecMathKernel.l2Normalize($c);")

  override protected def withNewChildInternal(newChild: Expression): L2NormalizeExpr =
    copy(child = newChild)
}

object VecMath {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** Column API: sequential-fold dot product (HOF-twin semantics). */
  def dot(a: Column, b: Column): Column =
    column(DotExpr(expression(a), expression(b)))

  /** Column API: sequential-fold squared L2 distance. */
  def sq_dist(a: Column, b: Column): Column =
    column(SqDistExpr(expression(a), expression(b)))

  /** Column API: all-planes hyperplane LSH bucket (planes row-major). */
  def lsh_bucket(v: Column, planes: Array[Double], nPlanes: Int,
                 dim: Int): Column =
    column(LshBucketExpr(expression(v), planes.toIndexedSeq, nPlanes, dim))

  /** Column API: argmin cell as struct(d, cid) over packed centroids. */
  def nearest_centroid(v: Column, cents: Column): Column =
    column(NearestCentroidExpr(expression(v), expression(cents)))

  /** Column API: struct(own_sq, other_sq) distances for silhouette. */
  def own_other_sqdist(v: Column, cents: Column, cell: Column): Column =
    column(OwnOtherSqDistExpr(expression(v), expression(cents),
      expression(cell)))

  /** Column API: v / ||v||₂ with HOF-twin null/zero semantics. */
  def l2_normalize(v: Column): Column =
    column(L2NormalizeExpr(expression(v)))

  /** Column API: int8 quantize/dequantize with HOF-twin semantics. */
  def quant_dequant(v: Column, sv: Column): Column =
    column(QuantDequantExpr(expression(v), expression(sv)))
}
