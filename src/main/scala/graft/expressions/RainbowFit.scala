package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Distributed nonlinear light-curve fit of the "Rainbow" rising-
  * transient model — the engine's closed-over-arrays answer to the
  * reference's driver-side `RainbowFit.from_angstrom(..,
  * temperature="constant", bolometric="sigmoid")` stage
  * (`fink_filters/ztf/filter_early_tde_candidates/lcs.py:268-326`):
  *
  *   F(t, λ) = A · S(t) · π B(λ, T) / (σ_SB T⁴)
  *   S(t)    = 1 / (1 + exp(−(t − t0)/τ))            (sigmoid rise)
  *   B(λ, T) = (2hc²/λ⁵) / (exp(hc/(λkT)) − 1)       (Planck SED)
  *
  * fitted per alert over the in-row SNANA flux history by
  * Levenberg–Marquardt on θ = (t0, ln A, ln τ, ln T) with analytic
  * Jacobian, SEEDED by the same closed-form per-band WLS the linear
  * stage uses (level/rate → Wien color temperature, sigmoid-slope
  * rise time, zero-crossing epoch) — so the iteration starts inside
  * the basin the linear features already locate. Everything is one
  * deterministic per-row kernel: no driver loop, no scipy, no
  * Monte-Carlo; at 100 TB this is a map stage like any other scalar.
  *
  * Input: the `struct(jd, f, e, fid, ok)` history array of
  * `ZtfPhotometryFilters.fluxHistoryCol` and the alert epoch jd_max
  * (only detections with ok ∧ fid ∈ {1,2} ∧ e > 0 enter the fit
  * two-sided). When the struct carries the OPTIONAL `ul` boolean field
  * (`fluxHistoryWithLimitsCol`), rows with ul = true are 5σ
  * NON-DETECTIONS — f = 10^(11 − 0.4·diffmaglim), e = f/5, exactly the
  * reference's substitution (`lcs.py:175,285-298`) — and enter the fit
  * one-sided (censored): residual max(0, (F − f)/e), i.e. a limit
  * penalizes the model only while the model sits ABOVE it, the
  * standard censored-likelihood hinge the reference's `upper_mask`
  * encodes. Seeds and the min-point gate use detections only; `n`
  * reports detections only, so fits without limits are bit-identical
  * to the pre-limit kernel.
  *
  * Output: struct(t0, amplitude, rise_time, temperature, chi2, n,
  * converged) — t0 in absolute JD (the reference's `reference_time`),
  * rise_time in days (τ), temperature in K, chi2 = Σ((F−y)/σ)² at the
  * optimum, n = points used. NULL when fewer than 5 usable points
  * (4 parameters + 1 dof), mirroring the reference's failed-fit
  * `return None`.
  *
  * Parametrizing in (ln A, ln τ, ln T) enforces positivity without
  * constraints and equalizes curvature scales; T is clamped to
  * [500 K, 10⁶ K] and τ to [10⁻³, 10⁴] d inside the model so no
  * exp() can overflow on a wild LM step.
  */
case class RainbowFit(pts: Expression, jdMax: Expression)
    extends BinaryExpression {

  override def left: Expression = pts
  override def right: Expression = jdMax

  override def dataType: DataType = RainbowFit.outputType
  override def prettyName: String = "rainbow_fit"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (pts.dataType,
      jdMax.dataType) match {
    // field TYPES must be validated too, not just names: the kernel
    // reads fixed-width UnsafeRow slots (getDouble/getInt/getBoolean),
    // so e.g. a float flux or long fid would silently reinterpret raw
    // bytes into garbage fits instead of failing analysis
    case (ArrayType(st: StructType, _), DoubleType)
        if Seq("jd" -> DoubleType, "f" -> DoubleType, "e" -> DoubleType,
          "fid" -> IntegerType, "ok" -> BooleanType).forall { case (n, t) =>
            st.fieldNames.contains(n) && st(n).dataType == t
          } =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<struct{jd double, f double, e double, " +
        s"fid int, ok boolean}>, double), got " +
        s"${pts.dataType.catalogString}, ${jdMax.dataType.catalogString}")
  }

  private lazy val st =
    pts.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private lazy val ordJd = st.fieldIndex("jd")
  private lazy val ordF = st.fieldIndex("f")
  private lazy val ordE = st.fieldIndex("e")
  private lazy val ordFid = st.fieldIndex("fid")
  private lazy val ordOk = st.fieldIndex("ok")
  // optional censored-point marker (−1 = history carries no limits)
  private lazy val ordUl =
    if (st.fieldNames.contains("ul")) st.fieldIndex("ul") else -1

  override protected def nullSafeEval(p: Any, j: Any): Any =
    RainbowFit.compute(p.asInstanceOf[ArrayData], j.asInstanceOf[Double],
      st.size, ordJd, ordF, ordE, ordFid, ordOk, ordUl)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, j) => s"""
      |${ev.value} = graft.expressions.RainbowFit.compute(
      |  $p, $j, ${st.size}, $ordJd, $ordF, $ordE, $ordFid, $ordOk, $ordUl);
      |if (${ev.value} == null) { ${ev.isNull} = true; }
      |""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(pts = newLeft, jdMax = newRight)
}

object RainbowFit {

  val outputType: StructType = StructType(Seq(
    StructField("t0", DoubleType, nullable = false),
    StructField("amplitude", DoubleType, nullable = false),
    StructField("rise_time", DoubleType, nullable = false),
    StructField("temperature", DoubleType, nullable = false),
    StructField("chi2", DoubleType, nullable = false),
    StructField("n", IntegerType, nullable = false),
    StructField("converged", BooleanType, nullable = false)))

  // CODATA constants (SI) and the reference's ZTF effective
  // wavelengths (lcs.py:47: g 4770 Å, r 6231 Å), in meters.
  private final val H = 6.62607015e-34
  private final val C = 2.99792458e8
  private final val K = 1.380649e-23
  private final val SigmaSB = 5.670374419e-8
  private final val C1 = 2.0 * H * C * C // 2hc²
  private final val C2 = H * C / K // hc/k, m·K
  private final val LambdaG = 4770.0e-10
  private final val LambdaR = 6231.0e-10

  private final val MinPoints = 5
  private final val MaxIter = 60
  private final val LnTMin = math.log(500.0)
  private final val LnTMax = math.log(1.0e6)
  private final val LnTauMin = math.log(1.0e-3)
  private final val LnTauMax = math.log(1.0e4)

  /** π B(λ, T) / (σ T⁴) for band λ — the SED factor of the model. */
  private def sed(lambda: Double, t: Double): Double = {
    val x = math.min(C2 / (lambda * t), 700.0)
    math.Pi * C1 / math.pow(lambda, 5.0) / Math.expm1(x) /
      (SigmaSB * t * t * t * t)
  }

  /** d ln(sed)/d ln T = x·eˣ/(eˣ−1) − 4. */
  private def dLnSedDLnT(lambda: Double, t: Double): Double = {
    val x = math.min(C2 / (lambda * t), 700.0)
    val ex = Math.expm1(x)
    x * (ex + 1.0) / ex - 4.0
  }

  private def sigmoid(z: Double): Double =
    1.0 / (1.0 + math.exp(-math.max(-40.0, math.min(40.0, z))))

  /** Java-callable kernel (referenced from generated code). Returns
    * null when the fit is undefined (< 5 usable points).
    */
  def compute(pts: ArrayData, jdMax: Double, numFields: Int, iJd: Int,
      iF: Int, iE: Int, iFid: Int, iOk: Int, iUl: Int): InternalRow = {
    val total = pts.numElements()
    // gather usable points, time centered on the alert epoch;
    // detections first (indices [0, nDet)), then censored 5σ limits
    // ([nDet, n)) so every detections-only loop is a prefix walk
    val u = new Array[Double](total)
    val y = new Array[Double](total)
    val s = new Array[Double](total)
    val lam = new Array[Double](total)
    var nDet = 0
    var i = 0
    while (i < total) {
      if (!pts.isNullAt(i)) {
        val p = pts.getStruct(i, numFields)
        val fid = p.getInt(iFid)
        if (p.getBoolean(iOk) && (fid == 1 || fid == 2)) {
          val e = p.getDouble(iE)
          if (e > 0.0 && java.lang.Double.isFinite(e)) {
            u(nDet) = p.getDouble(iJd) - jdMax
            y(nDet) = p.getDouble(iF)
            s(nDet) = e
            lam(nDet) = if (fid == 1) LambdaG else LambdaR
            nDet += 1
          }
        }
      }
      i += 1
    }
    if (nDet < MinPoints) return null
    var n = nDet
    if (iUl >= 0) {
      i = 0
      while (i < total) {
        if (!pts.isNullAt(i)) {
          val p = pts.getStruct(i, numFields)
          val fid = p.getInt(iFid)
          if (p.getBoolean(iUl) && (fid == 1 || fid == 2)) {
            val f = p.getDouble(iF)
            val e = p.getDouble(iE)
            if (f > 0.0 && java.lang.Double.isFinite(f) && e > 0.0 &&
                java.lang.Double.isFinite(e)) {
              u(n) = p.getDouble(iJd) - jdMax
              y(n) = f
              s(n) = e
              lam(n) = if (fid == 1) LambdaG else LambdaR
              n += 1
            }
          }
        }
        i += 1
      }
    }

    // ---- WLS seed: per-band level a and rate m at the alert epoch ----
    // (the linear stage's fit: centered intercept = level, slope = rate)
    var tSeed = 6000.0
    var aG = 0.0; var aR = 0.0; var mBest = 0.0; var aBest = 0.0
    val fit = new HistoryFits.Wls
    var b = 0
    while (b < 2) {
      val lb = if (b == 0) LambdaG else LambdaR
      fit.reset()
      var nb = 0
      var j = 0
      while (j < nDet) {
        // e > 0, so only an e² that underflows to 0 leaves the seed
        if (lam(j) == lb && fit.add(u(j), y(j), s(j))) nb += 1
        j += 1
      }
      if (nb >= 2 && fit.det != 0.0) {
        val m = fit.slope
        val a = fit.level
        if (b == 0) aG = a else aR = a
        if (a > 0.0 && m > 0.0 && a / m > aBest / math.max(mBest, 1e-300)) {
          // track the band with the slowest (best-measured) rise
          aBest = a; mBest = m
        }
      }
      b += 1
    }
    // Wien color temperature from the level ratio (hot limit (λr/λg)⁵)
    if (aG > 0.0 && aR > 0.0) {
      val wienLimit = math.pow(LambdaR / LambdaG, 5.0)
      val ratio = aG / aR
      if (ratio > 0.0 && ratio < wienLimit) {
        val t = C2 * (1.0 / LambdaG - 1.0 / LambdaR) /
          math.log(wienLimit / ratio)
        if (t > 0.0) tSeed = math.max(2000.0, math.min(30000.0, t))
      }
    }
    // sigmoid-slope seeds: assume S(jd_max) ≈ 0.8 on a rising curve →
    // τ = a(1−S)/m, t0 = jd_max + τ ln(1/S − 1)
    var tauSeed = 10.0
    if (aBest > 0.0 && mBest > 0.0)
      tauSeed = math.max(0.5, math.min(50.0, 0.2 * aBest / mBest))
    val t0Seed = -1.386 * tauSeed
    // amplitude seed: brightest point over its SED factor, / S ≈ 0.8
    var aSeed = 0.0
    i = 0
    while (i < nDet) {
      val cand = y(i) / sed(lam(i), tSeed)
      if (cand > aSeed) aSeed = cand
      i += 1
    }
    aSeed = if (aSeed > 0.0) aSeed / 0.8 else 1.0e-30

    // ---- Levenberg–Marquardt on θ = (t0, lnA, lnτ, lnT) ----
    val theta = Array(t0Seed, math.log(aSeed), math.log(tauSeed),
      math.log(tSeed))
    def clampTheta(th: Array[Double]): Unit = {
      th(2) = math.max(LnTauMin, math.min(LnTauMax, th(2)))
      th(3) = math.max(LnTMin, math.min(LnTMax, th(3)))
    }
    def chi2Of(th: Array[Double]): Double = {
      val a = math.exp(th(1)); val tau = math.exp(th(2))
      val t = math.exp(th(3))
      var c = 0.0
      var j = 0
      while (j < n) {
        val sg = sigmoid((u(j) - th(0)) / tau)
        val r = (a * sg * sed(lam(j), t) - y(j)) / s(j)
        // censored suffix: a 5σ limit penalizes only a model ABOVE it
        if (j < nDet || r > 0.0) c += r * r
        j += 1
      }
      c
    }
    clampTheta(theta)
    var chi2 = chi2Of(theta)
    var lambda = 1.0e-3
    var converged = false
    // distinguishes "at a minimum" from "never moved off the WLS seed":
    // damping exhaustion only counts as convergence after at least one
    // accepted step this run (repeatedly singular normal equations on a
    // degenerate history must not report the seed as an optimum)
    var everAccepted = false
    val h = Array.ofDim[Double](4, 4)
    val g = new Array[Double](4)
    var iter = 0
    var stuck = false
    while (iter < MaxIter && !converged && !stuck) {
      // normal equations from the analytic Jacobian
      var r0 = 0; while (r0 < 4) { g(r0) = 0.0
        var c0 = 0; while (c0 < 4) { h(r0)(c0) = 0.0; c0 += 1 }; r0 += 1 }
      val a = math.exp(theta(1)); val tau = math.exp(theta(2))
      val t = math.exp(theta(3))
      var j = 0
      while (j < n) {
        val sg = sigmoid((u(j) - theta(0)) / tau)
        val se = sed(lam(j), t)
        val f = a * sg * se
        val r = (f - y(j)) / s(j)
        // inactive censored point: zero residual AND zero gradient (the
        // hinge is flat below the limit) — contributes nothing
        if (j >= nDet && r <= 0.0) { j += 1 }
        else {
        val dsg = sg * (1.0 - sg)
        val jr = new Array[Double](4)
        jr(0) = -a * se * dsg / tau / s(j)
        jr(1) = f / s(j)
        jr(2) = -a * se * dsg * (u(j) - theta(0)) / tau / s(j)
        jr(3) = f * dLnSedDLnT(lam(j), t) / s(j)
        var p = 0
        while (p < 4) {
          g(p) += jr(p) * r
          var q = p
          while (q < 4) { h(p)(q) += jr(p) * jr(q); q += 1 }
          p += 1
        }
        j += 1
        }
      }
      var p = 1
      while (p < 4) { var q = 0; while (q < p) { h(p)(q) = h(q)(p); q += 1 }
        p += 1 }
      // damped step; grow damping until the step reduces chi²
      var accepted = false
      var inner = 0
      while (!accepted && inner < 30 && lambda < 1.0e14) {
        val m = Array.ofDim[Double](4, 5)
        var r1 = 0
        while (r1 < 4) {
          var c1 = 0
          while (c1 < 4) { m(r1)(c1) = h(r1)(c1); c1 += 1 }
          m(r1)(r1) += lambda * math.max(h(r1)(r1), 1.0e-12)
          m(r1)(4) = -g(r1)
          r1 += 1
        }
        val delta = solve4(m)
        if (delta != null) {
          val trial = new Array[Double](4)
          var k = 0
          while (k < 4) { trial(k) = theta(k) + delta(k); k += 1 }
          clampTheta(trial)
          val trialChi2 = chi2Of(trial)
          if (trialChi2 <= chi2) {
            val improvement = chi2 - trialChi2
            System.arraycopy(trial, 0, theta, 0, 4)
            if (improvement <= 1.0e-10 * (1.0 + chi2)) converged = true
            chi2 = trialChi2
            lambda = math.max(1.0e-12, lambda / 3.0)
            accepted = true
            everAccepted = true
          }
        }
        if (!accepted) lambda *= 5.0
        inner += 1
      }
      // damping exhausted: at a minimum — but only if the run ever moved.
      // A run that never accepted a step is stuck at the seed: exit now
      // (re-deriving the same singular normal equations for the
      // remaining iterations cannot change the outcome) with
      // converged=false so consumers filtering on `converged` drop it.
      if (!accepted) { converged = everAccepted; stuck = !everAccepted }
      iter += 1
    }

    val row = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(7)
    row.update(0, jdMax + theta(0))
    row.update(1, math.exp(theta(1)))
    row.update(2, math.exp(theta(2)))
    row.update(3, math.exp(theta(3)))
    row.update(4, chi2)
    row.update(5, nDet) // detections only: limit-free fits stay pinned
    row.update(6, converged)
    row
  }

  /** In-place Gaussian elimination with partial pivoting on a 4×5
    * augmented matrix; returns the solution or null if singular.
    */
  private def solve4(m: Array[Array[Double]]): Array[Double] = {
    var col = 0
    while (col < 4) {
      var piv = col
      var r = col + 1
      while (r < 4) {
        if (math.abs(m(r)(col)) > math.abs(m(piv)(col))) piv = r
        r += 1
      }
      if (m(piv)(col) == 0.0) return null
      if (piv != col) { val tmp = m(piv); m(piv) = m(col); m(col) = tmp }
      r = col + 1
      while (r < 4) {
        val f = m(r)(col) / m(col)(col)
        var c = col
        while (c < 5) { m(r)(c) -= f * m(col)(c); c += 1 }
        r += 1
      }
      col += 1
    }
    val x = new Array[Double](4)
    var r = 3
    while (r >= 0) {
      var acc = m(r)(4)
      var c = r + 1
      while (c < 4) { acc -= m(r)(c) * x(c); c += 1 }
      x(r) = acc / m(r)(r)
      r -= 1
    }
    x
  }

  /** Column-facing constructor. */
  def rainbowFit(pts: Column, jdMax: Column): Column = {
    val br = org.apache.spark.sql.graftbridge.ExpressionBridge
    br.column(RainbowFit(br.expression(pts), br.expression(jdMax)))
  }
}
