package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Per-row least-squares kernels over in-row history arrays: the
  * `is_rising` detector, the σ-weighted linear fit and the OLS R² of the
  * photometric filters (SURVEY G1–G3, G5).
  *
  * [[HistoryFits.Wls]] is the engine's one σ-weighted least-squares fit
  * of a history (`np.polyfit(w=1/dy, cov="unscaled")`): `IsRising`'s
  * slope test, `WeightedSlope` (and through it the early-TDE band fits
  * of `EarlyTdeScorer`) and `RainbowFit`'s seed all sum their points
  * into it and read the fit out of it.
  *
  * Why kernels: a fit stated in lambda functions reads its history array
  * once per sum, and Catalyst copies the whole history subtree at every
  * read, so the analysed masks run to thousands of nodes that the
  * analyser and planner pay for on every micro-batch. A kernel reads the
  * array once.
  *
  * The arithmetic follows Spark SQL operation for operation, so a mask
  * selects what its `aggregate`/`exists` statement would: uncentred sums
  * folded left from 0.0 in index order, Spark's NaN ordering in
  * comparisons (`SQLOrderingUtil`), and a null operand leaving a
  * comparison not true. Where SQL would divide by zero (a point with
  * e² = 0, or a zero determinant: raw jd ≈ 2.46e6 squared cancels on
  * same-night points) and fail the query with DIVIDE_BY_ZERO, a kernel
  * reports "no fit": `IsRising`'s slope test is not true,
  * `WeightedSlope`'s fitted fields are null.
  */
object HistoryFits {

  /** Checks that `dt` is an array of structs carrying `fields` (names
    * and types: the kernels read fixed-width slots).
    */
  private[expressions] def checkPoints(name: String, dt: DataType,
      fields: Seq[(String, DataType)]): TypeCheckResult = dt match {
    case ArrayType(st: StructType, _) if fields.forall { case (n, t) =>
          st.fieldNames.contains(n) && st(n).dataType == t } =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$name requires array<struct{" +
        fields.map { case (n, t) => s"$n ${t.simpleString}" }.mkString(", ") +
        s"}>, got ${dt.catalogString}")
  }

  private[expressions] def ordinals(dt: DataType,
      fields: Seq[(String, DataType)]): (Int, Seq[Int]) = {
    val st = dt.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    (st.size, fields.map(f => st.fieldIndex(f._1)))
  }

  /** `a > b` in Spark's double ordering (NaN above every number). */
  private[expressions] def gt(a: Double, b: Double): Boolean =
    SQLOrderingUtil.compareDoubles(a, b) > 0

  /** One nullable double field of the gathered points. */
  private[expressions] final class Field(cap: Int) {
    val v = new Array[Double](cap)
    val isNull = new Array[Boolean](cap)
    var nulls = 0
    def set(i: Int, p: InternalRow, ord: Int): Unit =
      if (p == null || p.isNullAt(ord)) { isNull(i) = true; nulls += 1 }
      else { isNull(i) = false; v(i) = p.getDouble(ord) }
  }

  /** σ-weighted least squares of y on x, weights 1/e²
    * (`np.polyfit(w=1/dy, cov="unscaled")`): the moments of the points
    * added since the last `reset`, and the fit read out of them. Each
    * sum is its own left fold from 0.0, so one loop adds in the order
    * separate folds did.
    */
  private[expressions] final class Wls {
    var sw = 0.0; var swx = 0.0; var swy = 0.0; var swxx = 0.0
    var swxy = 0.0; var swyy = 0.0

    def reset(): Unit = {
      sw = 0.0; swx = 0.0; swy = 0.0; swxx = 0.0; swxy = 0.0; swyy = 0.0
    }

    /** Adds (x, y) at weight 1/e²; false, adding nothing, where e² = 0. */
    def add(x: Double, y: Double, e: Double): Boolean = {
      val ee = e * e
      if (ee == 0.0) return false
      val w = 1.0 / ee
      sw += w; swx += x * w; swy += y * w
      swxx += x * x * w; swxy += x * y * w; swyy += y * y * w
      true
    }

    /** Sums the first n points afresh; false for no fit (fewer than
      * two points, a point with e² = 0 or a zero determinant). Inputs
      * non-null. One point has a zero determinant only in exact
      * arithmetic: in doubles it is a few ulps either side, which would
      * give a slope of rounding noise.
      */
    def fit(x: Array[Double], y: Array[Double], e: Array[Double],
        n: Int): Boolean = {
      reset()
      if (n < 2) return false
      var i = 0
      while (i < n) {
        if (!add(x(i), y(i), e(i))) return false
        i += 1
      }
      det != 0.0
    }

    def det: Double = sw * swxx - swx * swx
    def slope: Double = (sw * swxy - swx * swy) / det
    def slopeErr: Double = math.sqrt(sw / det)
    /** The intercept: the fitted y at x = 0. */
    def level: Double = (swxx * swy - swx * swxy) / det
    def levelErr: Double = math.sqrt(swxx / det)

    /** Σw(y − level − slope·x)² in its algebraic form
      * swyy − 2a·swy − 2m·swxy + a²·sw + 2am·swx + m²·swxx, clamped at 0
      * against cancellation on near-perfect fits (NaN stays NaN).
      */
    def chi2: Double = {
      val a = level
      val m = slope
      val c = swyy - 2.0 * a * swy - 2.0 * m * swxy + a * a * sw +
        2.0 * a * m * swx + m * m * swxx
      if (gt(0.0, c)) 0.0 else c
    }
  }

  /** A finite double as a Java literal for generated code. */
  private[expressions] def javaDouble(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"threshold must be finite, got $x")
    s"${x}D"
  }

  private def br = org.apache.spark.sql.graftbridge.ExpressionBridge

  /** Column-facing constructors. */
  def isRising(pts: Column, nsRise: Double, nsDecay: Double,
      nsSlope: Double): Column =
    br.column(IsRising(br.expression(pts), nsRise, nsDecay, nsSlope))

  def weightedSlope(pts: Column): Column =
    br.column(WeightedSlope(br.expression(pts)))

  def linearR2(pts: Column, minN: Int): Column =
    br.column(LinearR2(br.expression(pts), minN))
}

import HistoryFits.{checkPoints, gt, javaDouble, ordinals}

/** The `is_rising` detector (G3, `prefilter.py:87-149`) over the
  * `struct(jd, f, e, fid, ok)` flux history of
  * `ZtfPhotometryFilters.fluxHistoryCol`. Per band (fid 1, 2) over the
  * points with ok: with n ≥ 2 points, the band rises if the last flux
  * exceeds a prior one by nsRise·hypot(e, e_last), or if n ≥ 3, the jd
  * span is positive and the weighted slope exceeds nsSlope·serr; it
  * decays if a prior flux exceeds the last by nsDecay·hypot, or a flux
  * its successor by nsDecay·hypot of their errors. Rising iff some band
  * rises and none decays. Never null (a null history is not rising).
  */
case class IsRising(child: Expression, nsRise: Double, nsDecay: Double,
    nsSlope: Double) extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "is_rising"

  override def checkInputDataTypes(): TypeCheckResult =
    checkPoints(prettyName, child.dataType, IsRising.Fields)

  private lazy val (numFields, ords) = ordinals(child.dataType, IsRising.Fields)

  override def eval(input: InternalRow): Any = {
    val p = child.eval(input)
    p != null && IsRising.compute(p.asInstanceOf[ArrayData], numFields,
      ords(0), ords(1), ords(2), ords(3), ords(4), nsRise, nsDecay, nsSlope)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.value} = !${c.isNull} &&
      |  graft.expressions.IsRising.compute(${c.value}, $numFields,
      |    ${ords.mkString(", ")}, ${javaDouble(nsRise)},
      |    ${javaDouble(nsDecay)}, ${javaDouble(nsSlope)});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object IsRising {

  val Fields: Seq[(String, DataType)] = Seq("jd" -> DoubleType,
    "f" -> DoubleType, "e" -> DoubleType, "fid" -> IntegerType,
    "ok" -> BooleanType)

  /** Java-callable kernel (referenced from generated code). */
  def compute(pts: ArrayData, numFields: Int, iJd: Int, iF: Int, iE: Int,
      iFid: Int, iOk: Int, nsRise: Double, nsDecay: Double,
      nsSlope: Double): Boolean = {
    val total = pts.numElements()
    val jd = new HistoryFits.Field(total)
    val f = new HistoryFits.Field(total)
    val e = new HistoryFits.Field(total)
    val fit = new HistoryFits.Wls
    var rise = false
    var band = 1
    while (band <= 2) {
      jd.nulls = 0; f.nulls = 0; e.nulls = 0
      var n = 0
      var i = 0
      while (i < total) {
        if (!pts.isNullAt(i)) {
          val p = pts.getStruct(i, numFields)
          if (!p.isNullAt(iOk) && p.getBoolean(iOk) && !p.isNullAt(iFid) &&
              p.getInt(iFid) == band) {
            jd.set(n, p, iJd); f.set(n, p, iF); e.set(n, p, iE)
            n += 1
          }
        }
        i += 1
      }
      if (n >= 2) {
        val l = n - 1
        def known(k: Int) = !f.isNull(k) && !e.isNull(k)
        i = 0
        while (i < l) {
          if (known(i) && known(l)) {
            val h = Math.hypot(e.v(i), e.v(l))
            if (gt(f.v(l) - f.v(i), nsRise * h)) rise = true
            if (gt(f.v(i) - f.v(l), nsDecay * h)) return false
          }
          if (known(i) && known(i + 1) && gt(f.v(i) - f.v(i + 1),
              nsDecay * Math.hypot(e.v(i), e.v(i + 1)))) return false
          i += 1
        }
        // a null jd, f or e leaves the fit, and so the slope test, null
        if (!rise && n >= 3 && jd.nulls == 0 && f.nulls == 0 &&
            e.nulls == 0) {
          // jd span: max and min in Spark's ordering
          var mx = jd.v(0); var mn = jd.v(0)
          i = 1
          while (i < n) {
            if (gt(jd.v(i), mx)) mx = jd.v(i)
            if (gt(mn, jd.v(i))) mn = jd.v(i)
            i += 1
          }
          if (gt(mx - mn, 0.0) && fit.fit(jd.v, f.v, e.v, n) &&
              gt(fit.slope, nsSlope * fit.slopeErr)) rise = true
        }
      }
      band += 1
    }
    rise
  }
}

/** σ-weighted linear fit (G1/G2, `filter_rate_based_kn_candidates/
  * filter.py:151-167`; the early-TDE band fits) over `struct(jd, y, e)`
  * points, weights 1/e²: struct(slope, serr, n, span, level, level_err,
  * chi2) with n the point count, span the last jd minus the first (null
  * without points), level ± level_err the intercept at jd = 0 and chi2
  * Σw(y − fit)² (see [[HistoryFits.Wls]]). The fitted fields are null
  * where a field they need is null or there is no fit, as with fewer
  * than two points.
  */
case class WeightedSlope(child: Expression) extends UnaryExpression {

  override def dataType: DataType = WeightedSlope.outputType
  override def prettyName: String = "weighted_slope"

  override def checkInputDataTypes(): TypeCheckResult =
    checkPoints(prettyName, child.dataType, WeightedSlope.Fields)

  private lazy val (numFields, ords) =
    ordinals(child.dataType, WeightedSlope.Fields)

  override protected def nullSafeEval(p: Any): Any = WeightedSlope.compute(
    p.asInstanceOf[ArrayData], numFields, ords(0), ords(1), ords(2))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, p => s"${ev.value} = " +
      s"graft.expressions.WeightedSlope.compute($p, $numFields, " +
      s"${ords.mkString(", ")});")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object WeightedSlope {

  val Fields: Seq[(String, DataType)] =
    Seq("jd" -> DoubleType, "y" -> DoubleType, "e" -> DoubleType)

  val outputType: StructType = StructType(Seq(
    StructField("slope", DoubleType), StructField("serr", DoubleType),
    StructField("n", IntegerType, nullable = false),
    StructField("span", DoubleType), StructField("level", DoubleType),
    StructField("level_err", DoubleType), StructField("chi2", DoubleType)))

  /** Java-callable kernel (referenced from generated code). */
  def compute(pts: ArrayData, numFields: Int, iJd: Int, iY: Int,
      iE: Int): InternalRow = {
    val n = pts.numElements()
    val jd = new HistoryFits.Field(n)
    val y = new HistoryFits.Field(n)
    val e = new HistoryFits.Field(n)
    var i = 0
    while (i < n) {
      val p = if (pts.isNullAt(i)) null else pts.getStruct(i, numFields)
      jd.set(i, p, iJd); y.set(i, p, iY); e.set(i, p, iE)
      i += 1
    }
    val row = new GenericInternalRow(7)
    val fit = new HistoryFits.Wls
    // y only enters swy, swxy and swyy: with a null y the errors stand
    if (jd.nulls == 0 && e.nulls == 0 && fit.fit(jd.v, y.v, e.v, n)) {
      if (y.nulls == 0) {
        row.update(0, fit.slope); row.update(4, fit.level)
        row.update(6, fit.chi2)
      }
      row.update(1, fit.slopeErr); row.update(5, fit.levelErr)
    }
    row.update(2, n)
    if (n > 0 && !jd.isNull(0) && !jd.isNull(n - 1))
      row.update(3, jd.v(n - 1) - jd.v(0))
    row
  }
}

/** R² of the ordinary least-squares line through `struct(x, y)` points
  * (G5, `filter_yso_spicy_candidates/filter.py:28-76`), from the raw
  * sums: 1 − (ss_yy − ss_xy²/ss_xx)/ss_yy. Null under minN points, with
  * a null coordinate, or where ss_xx or ss_yy is zero.
  */
case class LinearR2(child: Expression, minN: Int) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "linear_r2"

  override def checkInputDataTypes(): TypeCheckResult =
    checkPoints(prettyName, child.dataType, LinearR2.Fields)

  private lazy val (numFields, ords) = ordinals(child.dataType, LinearR2.Fields)

  override protected def nullSafeEval(p: Any): Any = LinearR2.compute(
    p.asInstanceOf[ArrayData], numFields, ords(0), ords(1), minN)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val r = ctx.freshName("r2")
    nullSafeCodeGen(ctx, ev, p => s"""
      |java.lang.Double $r = graft.expressions.LinearR2.compute($p,
      |  $numFields, ${ords.mkString(", ")}, $minN);
      |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object LinearR2 {

  val Fields: Seq[(String, DataType)] = Seq("x" -> DoubleType, "y" -> DoubleType)

  /** Java-callable kernel (referenced from generated code); null for no
    * value.
    */
  def compute(pts: ArrayData, numFields: Int, iX: Int, iY: Int,
      minN: Int): java.lang.Double = {
    val n = pts.numElements()
    if (n < minN) return null
    var sx = 0.0; var sy = 0.0; var sxx = 0.0; var syy = 0.0; var sxy = 0.0
    var i = 0
    while (i < n) {
      if (pts.isNullAt(i)) return null
      val p = pts.getStruct(i, numFields)
      if (p.isNullAt(iX) || p.isNullAt(iY)) return null
      val x = p.getDouble(iX)
      val y = p.getDouble(iY)
      sx += x; sy += y; sxx += x * x; syy += y * y; sxy += x * y
      i += 1
    }
    val nd = n.toDouble
    val ssxx = sxx - sx * sx / nd
    val ssyy = syy - sy * sy / nd
    val ssxy = sxy - sx * sy / nd
    if (ssxx == 0.0 || ssyy == 0.0) null
    else 1.0 - (ssyy - ssxy * ssxy / ssxx) / ssyy
  }
}
