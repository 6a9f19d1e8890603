package perfbench

import java.util.SplittableRandom

/** One photometric point of an alert: the current detection or a
  * history entry. `magpsf`/`sigmapsf`/`isdiffpos` are empty for 5σ upper
  * limits (non-detections), as in ZTF's `prv_candidates`.
  */
final case class Point(
    jd: Double, fid: Int, magpsf: Option[Float], sigmapsf: Option[Float],
    diffmaglim: Float, isdiffpos: Option[String], magnr: Float,
    sigmagnr: Float, ssnamenr: String, distnr: Float) {
  def valid: Boolean = magpsf.exists(m => !m.isNaN)
  def mag: Double = magpsf.get.toDouble
}

/** The `candidate` fields the generator draws (ZTF alert schema 3.3). */
final case class Cand(
    jd: Double, fid: Int, pid: Long, diffmaglim: Float, isdiffpos: String,
    ra: Double, dec: Double, magpsf: Float, sigmapsf: Float, rb: Float,
    drb: Float, classtar: Float, nbad: Int, ndethist: Int, ncovhist: Int,
    jdstarthist: Double, distnr: Float, magnr: Float, sigmagnr: Float,
    ssdistnr: Float, ssnamenr: String, neargaia: Float, distpsnr1: Float,
    field: Int, magzpsci: Float)

/** One generated alert, as plain values: the expectations in [[Expect]]
  * are computed from these, never by running the program.
  */
final case class Alert(
    candid: Long, objectId: String, c: Cand, prv: Vector[Point], scene: Int,
    cdsxmatch: String, tns: String, dr3Name: String, tracklet: String,
    spicyClass: String, spicyId: Int, roid: Int, nalerthist: Int,
    rfSnia: Double, snnSnia: Double, snnSnAll: Double, mulens: Double,
    rfKn: Double, anomaly: Double, lcSlopeR: Double, lcSlopeG: Double,
    lumDist: String, blazar: Vector[Float], vsx: String, gcvs: String) {

  /** History ⊕ current point, chronological, current last. */
  lazy val chist: Vector[Point] = prv :+ Point(c.jd, c.fid, Some(c.magpsf),
    Some(c.sigmapsf), c.diffmaglim, Some(c.isdiffpos), c.magnr, c.sigmagnr,
    c.ssnamenr, c.distnr)
}

/** Seeded ZTF alert generator.
  *
  * Every value is drawn from the distributions below; none is tuned to a
  * filter. Fields are drawn independently unless a physical relation
  * ties them (σ grows with magnitude, the history follows the alert's own
  * light curve, solar-system objects carry a name and a small ssdistnr).
  *
  * | field | distribution |
  * |---|---|
  * | position | uniform on the sphere above dec −30° |
  * | jd | one night: `2460000.5 + seed mod 365 + U(0.15, 0.45)` |
  * | fid | g 48.5 %, r 48.5 %, i 3 % |
  * | magpsf | N(19.2, 1.1) clipped to [13.5, 21.7] |
  * | sigmapsf | 0.015 + 0.12·10^(0.4(m − 20.5))·U(0.8, 1.2), clipped to [0.01, 0.36] |
  * | diffmaglim | N(20.4, 0.35) clipped to [max(m + 0.05, 19), 21.8] |
  * | drb | 80 % U(0.6, 1), 20 % U(0, 0.6); rb = drb + N(0, 0.15) clipped |
  * | classtar | U(0, 1) |
  * | nbad | 0 with p 0.85, else U{1..4} |
  * | ndethist | 1: 22 %, 2: 10 %, 3: 7 %, else 4 + ⌊logU(1, 800)⌋ |
  * | history | detections in the last 30 d (≤ 25) plus U{0..4} upper limits; gaps 35 % same night U(0.015, 0.25) d, else U(0.8, 6) d |
  * | light curve | 30 % rising, 30 % fading (U(0.02, 0.5) mag/d), 40 % flat with N(0, U(0.03, 0.4)) scatter |
  * | isdiffpos | t 84 %, f 10 %, 1 4 %, 0 2 % |
  * | distnr | 55 % U(0, 1.5), 45 % U(1.5, 30) arcsec |
  * | roid | 0: 82 %, 1: 8 %, 2: 4 %, 3: 6 % |
  * | cdsxmatch | [[Alerts.SimbadWeights]] (40 % "Unknown") |
  * | tns | "" 95 %, else SN Ia / SN II / SN Ic / TDE / Unknown |
  * | DR3Name | "nan" 50 % |
  * | ML scores | snn/rf: U², rf_kn: U⁴, mulens: 0 with p 0.97 else U |
  * | anomaly_score | N(0.05, 0.12), NaN 3 % |
  * | mangrove lum_dist | "None" 85 %, "nan" 3 %, else U(10, 600) Mpc |
  * | blazar_stats | 93 % all −1, else each U(0, 3) |
  *
  * A share of alerts ([[Alerts.EdgeShare]]) then has one field moved to a
  * filter threshold, one float step below it, or one step above it, so
  * every threshold has alerts on each side and on the boundary itself.
  */
object Alerts {

  val EdgeShare = 0.06

  val SimbadWeights: Seq[(String, Double)] = Seq(
    "Unknown" -> 40, "Star" -> 6, "RRLyr" -> 3, "RRLyrae" -> 1, "EB*" -> 5,
    "LPV*" -> 4, "Mira" -> 2, "delSctV*" -> 2, "RSCVnV*" -> 1, "QSO" -> 4,
    "AGN" -> 2, "Galaxy" -> 3, "Seyfert_1" -> 1, "EmG" -> 1, "SN" -> 1,
    "Candidate_SN*" -> 1, "Blazar" -> 1, "BLLac" -> 1,
    "Blazar_Candidate" -> 0.5, "YSO_Candidate" -> 1, "Candidate_TTau*" -> 0.5,
    "Transient" -> 2, "Fail 504" -> 1, "CataclyV*" -> 1, "LensingEv" -> 0.3,
    "GravLens" -> 0.2, "BClG" -> 0.3, "X" -> 1, "Radio" -> 1, "HII_G" -> 0.5,
    "GinPair" -> 0.5, "PN" -> 0.5, "blue" -> 1, "Candidate_YSO" -> 0.5)

  private val Tns = Seq("SN Ia" -> 2.0, "SN II" -> 1.5, "SN Ic" -> 0.5,
    "TDE" -> 0.5, "Unknown" -> 0.5)

  val Jd0: Double = 2460000.5

  final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def u(): Double = r.nextDouble()
    def u(a: Double, b: Double): Double = a + (b - a) * r.nextDouble()
    def i(n: Int): Int = r.nextInt(n)
    def p(prob: Double): Boolean = r.nextDouble() < prob
    def normal(mu: Double, sd: Double): Double = mu + sd * r.nextGaussian()
    def logU(a: Double, b: Double): Double =
      math.exp(u(math.log(a), math.log(b)))
    def pick[T](ws: Seq[(T, Double)]): T = {
      var x = u() * ws.map(_._2).sum
      ws.find { case (_, w) => x -= w; x < 0 }.getOrElse(ws.last)._1
    }
  }

  private def clip(x: Double, lo: Double, hi: Double) =
    math.max(lo, math.min(hi, x))

  def sigmaFor(m: Double, rng: Rng): Float =
    clip(0.015 + 0.12 * math.pow(10, 0.4 * (m - 20.5)) * rng.u(0.8, 1.2),
      0.01, 0.36).toFloat

  private def isdiffpos(rng: Rng): String =
    rng.pick(Seq("t" -> 84.0, "f" -> 10.0, "1" -> 4.0, "0" -> 2.0))

  private def fid(rng: Rng): Int =
    rng.pick(Seq(1 -> 48.5, 2 -> 48.5, 3 -> 3.0))

  private def objectId(rng: Rng): String = {
    val letters = (0 until 7).map(_ => ('a' + rng.i(26)).toChar).mkString
    s"ZTF${18 + rng.i(8)}$letters"
  }

  /** `n` alerts of one night. Alert ids start at `firstCandid`; objects
    * come from a pool of `0.7·n` ids so some objects alert twice.
    */
  def generate(seed: Long, n: Int, firstCandid: Long, scenes: Int): Vector[Alert] = {
    val rng = new Rng(seed)
    val night = Jd0 + math.floorMod(seed, 365L)
    val objects = Vector.fill(math.max(1, (n * 0.7).toInt))(objectId(rng))
    Vector.tabulate(n)(k => edge(one(rng, night, firstCandid + k,
      objects(rng.i(objects.size)), scenes), rng))
  }

  private def one(rng: Rng, night: Double, candid: Long, obj: String,
      scenes: Int): Alert = {
    val jd = night + rng.u(0.15, 0.45)
    val ra = rng.u(0, 360)
    val dec = math.toDegrees(math.asin(rng.u(math.sin(math.toRadians(-30)), 1)))
    val band = fid(rng)
    val m = clip(rng.normal(19.2, 1.1), 13.5, 21.7)
    val drb = (if (rng.p(0.8)) rng.u(0.6, 1) else rng.u(0, 0.6)).toFloat
    val rb = clip(drb + rng.normal(0, 0.15), 0, 1).toFloat
    val ndet = rng.u() match {
      case x if x < 0.22 => 1
      case x if x < 0.32 => 2
      case x if x < 0.39 => 3
      case _ => 4 + rng.logU(1, 800).toInt
    }
    val roid = rng.pick(Seq(0 -> 82.0, 1 -> 8.0, 2 -> 4.0, 3 -> 6.0))
    val distnr = (if (rng.p(0.55)) rng.u(0, 1.5) else rng.u(1.5, 30)).toFloat
    val magnr = (if (distnr < 1.5) rng.u(14, 20) else rng.u(19, 22.5)).toFloat
    val sigmagnr = rng.u(0.02, 0.15).toFloat
    val ssname = if (roid == 3) (1000 + rng.i(500000)).toString else "null"

    // light curve: magnitude at time t relative to now
    val shape = rng.u()
    val rate = rng.u(0.02, 0.5)
    val scatter = rng.u(0.03, 0.4)
    def magAt(dt: Double): Double = clip(
      if (shape < 0.3) m + rate * dt + rng.normal(0, 0.05)
      else if (shape < 0.6) m - rate * dt + rng.normal(0, 0.05)
      else m + rng.normal(0, scatter), 13.5, 22)
    def gap(): Double =
      if (rng.p(0.35)) rng.u(0.015, 0.25) else rng.u(0.8, 6)

    // prior detections within the 30-day history window, newest first
    val maxDet = math.min(ndet - 1, 25)
    var t = jd
    val detTimes = Iterator.continually { t -= gap(); t }
      .take(maxDet).takeWhile(_ > jd - 30).toVector
    val allInWindow = detTimes.size == ndet - 1
    val jdstart =
      if (ndet == 1) jd
      else if (allInWindow) detTimes.last
      else detTimes.lastOption.getOrElse(jd) - rng.logU(1, 1500)
    val dets = detTimes.map { tj =>
      val mj = magAt(jd - tj)
      Point(tj, fid(rng), Some(mj.toFloat), Some(sigmaFor(mj, rng)),
        clip(rng.normal(20.4, 0.35), math.max(mj + 0.05, 19), 21.8).toFloat,
        Some(isdiffpos(rng)), magnr, sigmagnr,
        if (rng.p(0.02)) (1000 + rng.i(500000)).toString else "null", distnr)
    }
    val uls = Vector.fill(rng.i(5)) {
      Point(jd - rng.u(0.01, 30), fid(rng), None, None,
        clip(rng.normal(20.3, 0.4), 18.5, 21.8).toFloat, None, magnr,
        sigmagnr, "null", distnr)
    }
    val prv = (dets ++ uls).sortBy(_.jd)

    val c = Cand(
      jd = jd, fid = band, pid = candid / 7 + rng.i(1000), diffmaglim =
        clip(rng.normal(20.4, 0.35), math.max(m + 0.05, 19), 21.8).toFloat,
      isdiffpos = isdiffpos(rng), ra = ra, dec = dec, magpsf = m.toFloat,
      sigmapsf = sigmaFor(m, rng), rb = rb, drb = drb,
      classtar = rng.u().toFloat,
      nbad = if (rng.p(0.85)) 0 else 1 + rng.i(4),
      ndethist = ndet, ncovhist = ndet + rng.i(200), jdstarthist = jdstart,
      distnr = distnr, magnr = magnr, sigmagnr = sigmagnr,
      ssdistnr = (if (roid >= 1) rng.u(0, 20) else -999.0).toFloat,
      ssnamenr = ssname, neargaia = rng.u(0, 60).toFloat,
      distpsnr1 = rng.u(0, 30).toFloat, field = 250 + rng.i(630),
      magzpsci = rng.normal(26.3, 0.2).toFloat)

    val u2 = () => { val x = rng.u(); x * x }
    Alert(
      candid = candid, objectId = obj, c = c, prv = prv,
      scene = rng.i(scenes),
      cdsxmatch = rng.pick(SimbadWeights),
      tns = if (rng.p(0.95)) "" else rng.pick(Tns),
      dr3Name = if (rng.p(0.5)) "nan" else s"Gaia DR3 ${rng.i(Int.MaxValue)}",
      tracklet = if (rng.p(0.97)) "" else f"TRCK_${jd}%.5f_${rng.i(99)}%02d",
      spicyClass = if (rng.p(0.96)) "Unknown"
        else Seq("ClassI", "ClassII", "ClassIII", "FS")(rng.i(4)),
      spicyId = rng.i(1000000), roid = roid, nalerthist = ndet,
      rfSnia = u2(), snnSnia = u2(), snnSnAll = u2(),
      mulens = if (rng.p(0.97)) 0.0 else rng.u(),
      rfKn = { val x = rng.u(); x * x * x * x },
      anomaly = if (rng.p(0.03)) Double.NaN else rng.normal(0.05, 0.12),
      lcSlopeR = rng.normal(0, 0.04), lcSlopeG = rng.normal(0, 0.04),
      lumDist = rng.u() match {
        case x if x < 0.85 => "None"
        case x if x < 0.88 => "nan"
        case _ => f"${rng.u(10, 600)}%.3f"
      },
      blazar = if (rng.p(0.93)) Vector.fill(4)(-1f)
        else Vector.fill(4)(rng.u(0, 3).toFloat),
      vsx = if (rng.p(0.9)) "Unknown" else "VAR",
      gcvs = if (rng.p(0.95)) "Unknown" else "RR")
  }

  private def near(x: Float, side: Int): Float = side match {
    case 0 => x
    case -1 => Math.nextDown(x)
    case _ => Math.nextUp(x)
  }

  /** Moves one field of a share of alerts to a filter threshold. */
  private def edge(a: Alert, rng: Rng): Alert = {
    if (!rng.p(EdgeShare)) return a
    val side = rng.i(3) - 1
    val c = a.c
    def d(x: Double): Double = side match {
      case 0 => x
      case -1 => Math.nextDown(x)
      case _ => Math.nextUp(x)
    }
    rng.i(22) match {
      case 0 => a.copy(c = c.copy(rb = near(0.55f, side)))
      case 1 => a.copy(c = c.copy(drb = near(0.5f, side)))
      case 2 => a.copy(c = c.copy(drb = near(0.9f, side)))
      case 3 => a.copy(c = c.copy(classtar = near(0.4f, side)))
      case 4 => a.copy(c = c.copy(magpsf = near(19.5f, side)))
      case 5 => a.copy(c = c.copy(magpsf = near(20.5f, side)))
      case 6 => a.copy(c = c.copy(neargaia = near(5f, side)))
      case 7 => a.copy(c = c.copy(distpsnr1 = near(5f, side)))
      case 8 => a.copy(c = c.copy(distnr = near(1.5f, side)))
      case 9 => a.copy(snnSnia = d(0.5), snnSnAll = d(0.5))
      case 10 => a.copy(rfSnia = d(0.5), rfKn = d(0.5))
      case 11 => a.copy(mulens = d(0.0).max(0.0))
      case 12 => a.copy(lcSlopeR = d(if (rng.p(0.5)) 0.025 else -0.025))
      case 13 => a.copy(c = c.copy(ssdistnr = near(10f, side)))
      case 14 =>
        val age = Seq(0.25, 5.0, 30.0, 90.0)(rng.i(4))
        a.copy(c = c.copy(jdstarthist = c.jd - d(age)))
      case 15 => a.copy(c = c.copy(ndethist = 20 + side), nalerthist = 20 + side)
      case 16 => a.copy(nalerthist = 5 + side)
      case 17 => a.copy(lumDist = f"${200.0 + side * 0.001}%.3f")
      case 18 => a.copy(c = c.copy(dec = d(-10.0)))
      case 19 => a.copy(blazar = Vector(near(1f, side), near(1f, side),
        near(0f, side), near(0f, side)))
      case 20 => a.copy(blazar = Vector(near(1f, side), near(1f, side),
        near(1f, side), near(1f, side)))
      case _ => a.copy(c = c.copy(nbad = if (side < 0) 0 else 1))
    }
  }
}
