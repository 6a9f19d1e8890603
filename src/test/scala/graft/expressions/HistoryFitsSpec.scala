package graft.expressions

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.functions.col

import graft.SparkSpec

case class HfFlux(jd: Option[Double], f: Option[Double], e: Option[Double],
    fid: Option[Int], ok: Boolean)
case class HfSlope(jd: Option[Double], y: Option[Double], e: Option[Double])
case class HfLine(x: Option[Double], y: Option[Double])
case class HfCase(id: Int, flux: Option[Seq[HfFlux]],
    slope: Option[Seq[HfSlope]], line: Option[Seq[HfLine]])

/** The history-fit kernels against a restatement over plain Scala values
  * (the reference's `is_rising`, `np.polyfit(w=1/dy, cov="unscaled")` and
  * the OLS R², written here as the folds they are); no fixture, no filter.
  *
  * Inputs are LCG histories plus planted edges: null σ, NaN magnitudes,
  * one band, n = 0–3, equal jds, σ = 0, a same-night fit whose uncentred
  * determinant cancels to 0, one point (no fit) and a null history. Every value is
  * compared bit for bit, under generated code and under the interpreter.
  */
class HistoryFitsSpec extends SparkSpec {
  import HistoryFitsSpec._

  /** Spark's double ordering: NaN above every number, -0.0 = 0.0. */
  private def gt(a: Double, b: Double): Boolean =
    if (a.isNaN) !b.isNaN else !b.isNaN && a > b

  /** A comparison with a null operand is not true. */
  private def gtO(a: Option[Double], b: Option[Double]): Boolean =
    a.zip(b).exists { case (x, y) => gt(x, y) }

  private final case class P(x: Double, y: Double, e: Double)

  private final case class Fit(slope: Double, serr: Double, level: Double,
      levelErr: Double, chi2: Double)

  /** Weighted fit; None under two points or for a zero e² or
    * determinant. */
  private def wls(ps: Seq[P]): Option[Fit] =
    if (ps.size < 2 || ps.exists(p => p.e * p.e == 0.0)) None
    else {
      val w = ps.map(p => 1.0 / (p.e * p.e))
      def s(f: P => Double) =
        ps.zip(w).foldLeft(0.0) { case (a, (p, wi)) => a + f(p) * wi }
      val sw = w.foldLeft(0.0)(_ + _)
      val (swx, swy) = (s(_.x), s(_.y))
      val (swxx, swxy) = (s(p => p.x * p.x), s(p => p.x * p.y))
      val swyy = s(p => p.y * p.y)
      val det = sw * swxx - swx * swx
      if (det == 0.0) None
      else {
        val m = (sw * swxy - swx * swy) / det
        val a = (swxx * swy - swx * swxy) / det
        val chi2 = swyy - 2.0 * a * swy - 2.0 * m * swxy + a * a * sw +
          2.0 * a * m * swx + m * m * swxx
        Some(Fit(m, math.sqrt(sw / det), a, math.sqrt(swxx / det),
          if (gt(0.0, chi2)) 0.0 else chi2))
      }
    }

  private def isRising(h: Option[Seq[HfFlux]], nsRise: Double,
      nsDecay: Double, nsSlope: Double): Boolean = h.exists { all =>
    def bandFlags(b: Int): (Boolean, Boolean) = {
      val pts = all.filter(p => p.ok && p.fid.contains(b))
      if (pts.size < 2) return (false, false)
      def diff(p: HfFlux, q: HfFlux) = p.f.zip(q.f).map { case (a, c) => a - c }
      def tol(k: Double, p: HfFlux, q: HfFlux) =
        p.e.zip(q.e).map { case (a, c) => k * math.hypot(a, c) }
      val last = pts.last
      val prior = pts.init
      val rised = prior.exists(p => gtO(diff(last, p), tol(nsRise, p, last)))
      val decay = prior.exists(p => gtO(diff(p, last), tol(nsDecay, p, last))) ||
        pts.sliding(2).exists { case Seq(p, q) => gtO(diff(p, q), tol(nsDecay, p, q)) }
      val known = pts.forall(p => p.jd.isDefined && p.f.isDefined && p.e.isDefined)
      lazy val jds = pts.map(_.jd.get)
      lazy val ptp = jds.reduce((a, c) => if (gt(a, c)) a else c) -
        jds.reduce((a, c) => if (gt(a, c)) c else a)
      val slopeRise = pts.size >= 3 && known && gt(ptp, 0.0) &&
        wls(pts.map(p => P(p.jd.get, p.f.get, p.e.get)))
          .exists(f => gt(f.slope, nsSlope * f.serr))
      (rised || slopeRise, decay)
    }
    val (r1, d1) = bandFlags(1)
    val (r2, d2) = bandFlags(2)
    (r1 || r2) && !(d1 || d2)
  }

  /** (slope, serr, n, span) with None for SQL null. */
  private def weightedSlope(h: Option[Seq[HfSlope]])
      : Option[(Option[Double], Option[Double], Int, Option[Double])] = h.map { ps =>
    val span = for (l <- ps.lastOption; f <- ps.headOption; a <- l.jd; b <- f.jd)
      yield a - b
    if (ps.exists(p => p.jd.isEmpty || p.e.isEmpty)) (None, None, ps.size, span)
    else {
      // a null y only reaches swy and swxy, i.e. the slope
      val fit = slopeFit(ps)
      val slope = if (ps.exists(_.y.isEmpty)) None else fit.map(_.slope)
      (slope, fit.map(_.serr), ps.size, span)
    }
  }

  private def slopeFit(ps: Seq[HfSlope]): Option[Fit] =
    wls(ps.map(p => P(p.jd.get, p.y.getOrElse(0.0), p.e.get)))

  /** (level, level_err, chi2) of the same fit, with None for SQL null. */
  private def levelFit(h: Option[Seq[HfSlope]])
      : Option[(Option[Double], Option[Double], Option[Double])] = h.map { ps =>
    if (ps.exists(p => p.jd.isEmpty || p.e.isEmpty)) (None, None, None)
    else {
      // a null y reaches swy, swxy and swyy: the level and the χ²
      val fit = slopeFit(ps)
      val known = fit.filter(_ => ps.forall(_.y.isDefined))
      (known.map(_.level), fit.map(_.levelErr), known.map(_.chi2))
    }
  }

  private def linearR2(h: Option[Seq[HfLine]], minN: Int): Option[Double] =
    h.flatMap { ps =>
      if (ps.size < minN || ps.exists(p => p.x.isEmpty || p.y.isEmpty)) None
      else {
        val (xs, ys) = (ps.map(_.x.get), ps.map(_.y.get))
        val n = ps.size.toDouble
        def sum(v: Seq[Double]) = v.foldLeft(0.0)(_ + _)
        val (sx, sy) = (sum(xs), sum(ys))
        val sxx = sum(xs.map(x => x * x))
        val syy = sum(ys.map(y => y * y))
        val sxy = sum(xs.zip(ys).map { case (x, y) => x * y })
        val ssxx = sxx - sx * sx / n
        val ssyy = syy - sy * sy / n
        val ssxy = sxy - sx * sy / n
        if (ssxx == 0.0 || ssyy == 0.0) None
        else Some(1.0 - (ssyy - ssxy * ssxy / ssxx) / ssyy)
      }
    }

  private def same(a: Option[Double], b: Any): Boolean = (a, b) match {
    case (None, null) => true
    case (Some(x), y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case _ => false
  }

  /** Runs the kernels over `cases` with generated code only (whole-stage
    * on) or interpreted only (whole-stage off), read from an RDD so the
    * optimizer cannot fold the projection away.
    */
  private def run(mode: String): Map[Int, Row] = {
    import spark.implicits._
    val conf = Seq("spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString)
    val before = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      spark.sparkContext.parallelize(cases, 3).toDF()
        .select(col("id"),
          HistoryFits.isRising(col("flux"), 2, 1, 3),
          HistoryFits.isRising(col("flux"), 0.5, 4, 1),
          HistoryFits.weightedSlope(col("slope")),
          HistoryFits.linearR2(col("line"), 5))
        .collect().map(r => r.getInt(0) -> r).toMap
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN"))
    test(s"kernels equal the restatement bit for bit ($mode)") {
      val got = run(mode)
      assert(got.size === cases.size)
      cases.foreach { c =>
        val r = got(c.id)
        assert(r.getBoolean(1) === isRising(c.flux, 2, 1, 3), s"is_rising ${c.id}")
        assert(r.getBoolean(2) === isRising(c.flux, 0.5, 4, 1),
          s"is_rising(0.5, 4, 1) ${c.id}")
        (weightedSlope(c.slope), Option(r.getStruct(3))) match {
          case (None, None) =>
          case (Some((slope, serr, n, span)), Some(s)) =>
            assert(same(slope, s.get(0)) && same(serr, s.get(1)) &&
              s.getInt(2) == n && same(span, s.get(3)),
              s"weighted_slope ${c.id}: $s vs ${(slope, serr, n, span)}")
          case other => fail(s"weighted_slope ${c.id}: $other")
        }
        (levelFit(c.slope), Option(r.getStruct(3))) match {
          case (None, None) =>
          case (Some((level, levelErr, chi2)), Some(s)) =>
            assert(same(level, s.get(4)) && same(levelErr, s.get(5)) &&
              same(chi2, s.get(6)),
              s"weighted_slope level ${c.id}: $s vs ${(level, levelErr, chi2)}")
          case other => fail(s"weighted_slope level ${c.id}: $other")
        }
        assert(same(linearR2(c.line, 5), r.get(4)), s"linear_r2 ${c.id}")
      }
      // one point is no fit, whatever its determinant rounds to
      val one = got(Planted.OnePoint).getStruct(3)
      assert(one.getInt(2) === 1)
      assert(Seq(0, 1, 4, 5, 6).forall(one.isNullAt), one)
      // every branch is reached
      val rising = cases.count(c => isRising(c.flux, 2, 1, 3))
      assert(rising >= 10 && cases.size - rising >= 10, s"$rising rising")
      val slopes = cases.flatMap(c => weightedSlope(c.slope)).map(_._1)
      assert(slopes.count(_.isDefined) >= 10 && slopes.count(_.isEmpty) >= 10)
      val levels = cases.flatMap(c => levelFit(c.slope))
      assert(levels.count(_._1.isDefined) >= 10 &&
        levels.count(_._1.isEmpty) >= 10)
      assert(levels.count(_._3.exists(_ > 0.0)) >= 10)
      val r2 = cases.flatMap(c => linearR2(c.line, 5))
      assert(r2.count(_ > 0.6) >= 5 && r2.count(_ <= 0.6) >= 5)
    }

  test("planted edges give the stated outcome") {
    val byId = cases.map(c => c.id -> c).toMap
    // the same-night history the HOF form divided by zero on: no fit
    assert(!isRising(byId(Planted.SameNight).flux, 2, 1, 3))
    assert(weightedSlope(byId(Planted.SameNight).slope).get._1.isEmpty)
    // σ = 0: no fit, but the count and span stand
    assert(weightedSlope(byId(Planted.ZeroSigma).slope) ===
      Some((None, None, 3, Some(2.0))))
    assert(levelFit(byId(Planted.ZeroSigma).slope) === Some((None, None, None)))
    // a null y: the level and χ² are null, the level's error stands
    assert(levelFit(byId(Planted.SlopeOnly).slope).map {
      case (l, le, c) => (l.isDefined, le.isDefined, c.isDefined)
    } === Some((false, true, false)))
    // a null history: not rising, null fit, null R²
    assert(!isRising(byId(Planted.NullHistory).flux, 2, 1, 3))
    assert(weightedSlope(byId(Planted.NullHistory).slope).isEmpty)
    assert(linearR2(byId(Planted.NullHistory).line, 5).isEmpty)
    // a clean g-band rise over three nights is rising on the slope alone
    assert(isRising(byId(Planted.SlopeOnly).flux, 2, 1, 3))
  }

  test("a history of the wrong field types fails analysis") {
    import spark.implicits._
    val df = Seq(Seq((1.0f, 2.0, 3.0, 1, true))).toDF("pts")
      .selectExpr("transform(pts, p -> named_struct('jd', p._1, 'f', p._2, " +
        "'e', p._3, 'fid', p._4, 'ok', p._5)) AS pts")
    val e = intercept[AnalysisException](
      df.select(HistoryFits.isRising(col("pts"), 2, 1, 3)).collect())
    assert(e.getMessage.contains("is_rising requires"))
  }
}

object HistoryFitsSpec {

  object Planted {
    val NullHistory = 1000
    val SameNight = 1001
    val ZeroSigma = 1002
    val SlopeOnly = 1003
    val OnePoint = 1005
  }

  /** 64-bit LCG (Knuth's MMIX constants). */
  private final class Lcg(seed: Long) {
    private var s = seed
    def unif(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53)
    }
    def int(k: Int): Int = (unif() * k).toInt
  }

  private def flux(jd: Double, mag: Double, sig: Option[Double],
      fid: Int): HfFlux = {
    val ok = !mag.isNaN
    HfFlux(Some(jd), Some(math.pow(10.0, -0.4 * mag) * 1e11),
      sig.map(s => 9.21034e10 * math.exp(-0.921034 * mag) * s), Some(fid), ok)
  }

  /** A history with a linear magnitude trend, same-night and equal-jd
    * gaps, one band or two, and occasional null σ, σ = 0 and NaN mags.
    */
  private def generated(rng: Lcg, id: Int): HfCase = {
    val n = rng.int(9)
    val oneBand = rng.unif() < 0.2
    val trend = (rng.unif() - 0.5) * 0.6 // mag/day, fading when > 0
    val m0 = 17.0 + 3.0 * rng.unif()
    val t0 = 2460000.5 + rng.int(400)
    val scatter = if (rng.unif() < 0.5) 0.0 else 3.0 // mag, for the R² line
    var jd = t0
    val rows = (0 until n).map { _ =>
      val u = rng.unif()
      jd += (if (u < 0.15) 0.0 else if (u < 0.35) 0.002 + 0.02 * rng.unif()
        else 0.5 + 3.0 * rng.unif())
      val mag = if (rng.unif() < 0.06) Double.NaN
        else m0 + trend * (jd - t0) + 0.05 * (rng.unif() - 0.5)
      val v = rng.unif()
      val sig = if (v < 0.05) None else if (v < 0.08) Some(0.0)
        else if (v < 0.15) Some(5e-5) else Some(0.01 + 0.2 * rng.unif())
      val fid = if (oneBand) 1 else 1 + rng.int(2)
      (jd, mag, sig, fid)
    }
    HfCase(id,
      Some(rows.map { case (j, m, s, b) => flux(j, m, s, b) }),
      Some(rows.filterNot(_._2.isNaN).map { case (j, m, s, _) =>
        HfSlope(Some(j), if (rng.unif() < 0.04) None else Some(m), s) }),
      Some(rows.filterNot(_._2.isNaN).map { case (j, m, _, _) =>
        HfLine(if (rng.unif() < 0.02) None else Some(j),
          Some(m + scatter * (rng.unif() - 0.5))) }))
  }

  private val planted: Seq[HfCase] = {
    import Planted._
    val flat = (0 until 4).map(i => (2460000.5 + 0.002 * i, 18.0))
    val rise = Seq(2460000.5 -> 19.0, 2460001.5 -> 18.6, 2460002.5 -> 18.3,
      2460003.5 -> 18.0)
    Seq(
      HfCase(NullHistory, None, None, None),
      HfCase(SameNight,
        Some(flux(2459999.5, 18.0, Some(0.05), 2) +:
          flat.map { case (j, m) => flux(j, m, Some(5e-5), 1) }),
        Some(flat.map { case (j, m) => HfSlope(Some(j), Some(m), Some(5e-5)) }),
        Some(flat.map { case (j, m) => HfLine(Some(j), Some(m)) })),
      HfCase(ZeroSigma, Some(Seq(flux(2460000.5, 18.0, Some(0.0), 1),
          flux(2460001.5, 17.5, Some(0.1), 1),
          flux(2460002.5, 17.0, Some(0.1), 1))),
        Some(Seq(HfSlope(Some(2460000.5), Some(18.0), Some(0.1)),
          HfSlope(Some(2460001.5), Some(17.5), Some(0.0)),
          HfSlope(Some(2460002.5), Some(17.0), Some(0.1)))),
        Some(Seq.empty)),
      // a steady rise at σ = 0.01 mag, then a last point so uncertain
      // that no last-vs-prior or consecutive test is significant: only
      // the weighted slope can rise
      HfCase(SlopeOnly, Some(rise.map { case (j, m) =>
          flux(j, m, Some(0.01), 1) } :+ flux(2460004.5, 17.8, Some(2.0), 1)),
        Some(Seq(HfSlope(Some(2460000.5), None, Some(0.1)),
          HfSlope(Some(2460001.5), Some(17.0), Some(0.1)))),
        Some(rise.map { case (j, m) => HfLine(Some(j), Some(m)) } :+
          HfLine(Some(2460004.5), Some(17.7)))),
      // n = 0-3 in each band, single band, null σ on the last point,
      // NaN magnitudes, equal jds
      HfCase(1004, Some(Seq.empty), Some(Seq.empty), Some(Seq.empty)),
      HfCase(OnePoint, Some(Seq(flux(2460000.5, 18.0, Some(0.1), 1))),
        Some(Seq(HfSlope(Some(2460000.5), Some(18.0), Some(0.1)))),
        Some(Seq(HfLine(Some(2460000.5), Some(18.0))))),
      HfCase(1006, Some(Seq(flux(2460000.5, 18.0, Some(0.1), 1),
          flux(2460001.5, 17.0, None, 1), flux(2460000.5, 18.0, Some(0.1), 2),
          flux(2460002.5, Double.NaN, Some(0.1), 2))),
        Some(Seq(HfSlope(Some(2460000.5), Some(18.0), None),
          HfSlope(Some(2460001.5), Some(17.0), Some(0.1)))),
        Some(Seq.fill(5)(HfLine(Some(2460000.5), Some(18.0))))),
      HfCase(1007, Some(Seq(2460000.5, 2460000.5, 2460000.5).zipWithIndex
          .map { case (j, i) => flux(j, 18.0 - 0.001 * i, Some(0.1), 1) }),
        Some(Seq.fill(3)(HfSlope(Some(2460000.5), Some(18.0), Some(0.1)))),
        Some((0 until 5).map(i => HfLine(Some(2460000.5 + i), Some(18.0))))))
  }

  val cases: Seq[HfCase] = {
    val rng = new Lcg(20261019L)
    (0 until 400).map(generated(rng, _)) ++ planted
  }
}
