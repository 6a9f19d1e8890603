package perfbench

/** Expected filter outcomes, computed from the generator's own values.
  *
  * Each predicate restates a published fink-filters cut (the file named
  * in its comment) over plain Scala values; nothing here calls the
  * program. Comparisons follow Spark's semantics where they differ from
  * the JVM's: a float column meets a double literal as a double, a NaN
  * sorts above every number, and a null makes a conjunction fail.
  */
object Expect {

  val ExtragalacticHosts: Set[String] = Set(
    "Unknown", "Candidate_SN*", "SN", "SN candidate",
    "galaxy", "Galaxy", "EmG", "Seyfert", "Seyfert_1", "Seyfert_2",
    "BlueCompG", "StarburstG", "LSB_G", "HII_G", "High_z_G", "GinPair",
    "GinGroup", "BClG", "GinCl", "PartofG")
  val Gravitational: Set[String] = Set(
    "Gravitation", "LensingEv", "GravLensSystem", "GravLens", "LensedImage",
    "LensedG", "LensedQ", "BlackHole", "GravWaveEvent")
  val Blazars: Set[String] =
    Set("Blazar", "Blazar_Candidate", "BLLac", "BLLac_Candidate")
  val Yso: Set[String] = Set(
    "Candidate_YSO", "Candidate_TTau*", "YSO_Candidate", "TTau*_Candidate")
  /** `filter_early_tde_candidates/prefilter.py` host whitelist. */
  val TdeWanted: Set[String] = Set(
    "", "X", "IR", "Radio", "MIR", "NIR", "HH", "HI", "HII", "HighPM*",
    "LensedImage", "LensingEv", "Maser", "MolCld", "PartofCloud",
    "Radio(sub-mm)", "Blue", "Possible_lensImage", "Unknown", "Radio(mm)",
    "denseCore", "Radio(cm)", "UV", "PN", "PN?", "EmObj", "DkNeb",
    "Transient", "Candidate_LensSystem", "FIR", "multiple_object",
    "GravLensSystem", "Bubble", "Cloud", "SFregion", "Inexistent", "gamma",
    "GravLens", "HVCld", "Candidate_Lens", "ISM", "Void", "RfNeb",
    "HIshell", "Outflow", "radioBurst", "Region", "Globule", "outflow?",
    "ComGlob", "GinCl", "Galaxy", "AGN", "GiC", "Sy1", "Sy2",
    "AGN_Candidate", "QSO", "Seyfert_1", "Seyfert_2", "LINER", "EmG",
    "RadioG", "BClG", "LSB_G", "LensedG", "LensedQ", "GroupG", "PartOfG",
    "BLLac", "GinPair", "Possible_ClG", "Possible_G", "Possible_GrG",
    "GinGroup", "HII_G", "Blazar", "ClG", "QSO_Candidate", "Seyfert",
    "Blazar_Candidate", "StarburstG", "IG", "SuperClG", "PartofG",
    "Compact_Gr_G", "PairG", "BLLac_Candidate", "BlueCompG", "Seyfert2",
    "Seyfert1")

  // Spark orders NaN above every number
  private def gt(a: Double, b: Double): Boolean =
    if (a.isNaN) !b.isNaN else !b.isNaN && a > b
  private def lt(a: Double, b: Double): Boolean = gt(b, a)

  private def age(a: Alert) = a.c.jd - a.c.jdstarthist
  private def snn(a: Alert) = a.snnSnia > 0.5 || a.snnSnAll > 0.5

  /** `filter_simbad_candidates/filter.py:54-62`. */
  def simbadKnown(c: String): Boolean =
    !Set("Unknown", "Transient", "Fail", "Fail 504")(c) &&
      !c.startsWith("Fail") && !c.startsWith("Galaxy")

  def snCandidate(a: Alert): Boolean =
    snn(a) && ExtragalacticHosts(a.cdsxmatch) && age(a) <= 90 &&
      a.c.drb.toDouble > 0.5 && a.c.classtar.toDouble > 0.4 &&
      a.c.ndethist > 1 && a.roid != 3
  def earlySn(a: Alert): Boolean =
    snn(a) && ExtragalacticHosts(a.cdsxmatch) && a.c.drb.toDouble > 0.5 &&
      a.c.classtar.toDouble > 0.4 && a.c.ndethist <= 20 && a.rfSnia > 0.5
  def knCandidate(a: Alert): Boolean =
    a.rfKn > 0.5 && a.c.drb.toDouble > 0.5 && a.c.classtar.toDouble > 0.4 &&
      age(a) < 5 && a.roid != 3 && a.c.ndethist < 20 &&
      ExtragalacticHosts(a.cdsxmatch)
  private def tracklet(a: Alert) = a.tracklet.startsWith("TRCK_")

  /** `ztf/classification.py:139-210`: label priority, ambiguity over
    * {mulens, SN, SSO candidate, SSO MPC}, SIMBAD overrides all.
    */
  def finkClass(a: Alert, withTracklet: Boolean): String = {
    val mul = a.mulens > 0
    val sn = snCandidate(a)
    val r2 = a.roid == 2
    val r3 = a.roid == 3
    val ambiguous = Seq(mul, sn, r2, r3).count(identity) > 1
    if (simbadKnown(a.cdsxmatch)) a.cdsxmatch
    else if (ambiguous) "Ambiguous"
    else if (r3) "Solar System MPC"
    else if (withTracklet && tracklet(a)) "Tracklet"
    else if (r2) "Solar System candidate"
    else if (knCandidate(a)) "Kilonova candidate"
    else if (earlySn(a)) "Early SN Ia candidate"
    else if (sn) "SN candidate"
    else if (mul) "Microlensing candidate"
    else "Unknown"
  }

  private def lumDist(a: Alert): Double =
    a.lumDist.toDoubleOption.getOrElse(Double.NaN)

  // ---- sky geometry (standard J2000 constants) ----
  private val D2R = math.Pi / 180
  private val NgpRa = 192.85948
  private val NgpDec = 27.12825
  private val Obliquity = 23.43927944444444

  def galacticLat(ra: Double, dec: Double): Double = StrictMath.asin(
    StrictMath.sin(dec * D2R) * StrictMath.sin(NgpDec * D2R) +
      StrictMath.cos(dec * D2R) * StrictMath.cos(NgpDec * D2R) *
        StrictMath.cos((ra - NgpRa) * D2R)) / D2R

  def eclipticLat(ra: Double, dec: Double): Double = StrictMath.asin(
    StrictMath.sin(dec * D2R) * StrictMath.cos(Obliquity * D2R) -
      StrictMath.cos(dec * D2R) * StrictMath.sin(Obliquity * D2R) *
        StrictMath.sin(ra * D2R)) / D2R

  /** Great-circle distance in degrees (haversine). */
  def sepDeg(ra1: Double, dec1: Double, ra2: Double, dec2: Double): Double = {
    val s1 = math.sin((dec2 - dec1) * D2R / 2)
    val s2 = math.sin((ra2 - ra1) * D2R / 2)
    2 * math.asin(math.min(1.0, math.sqrt(s1 * s1 +
      math.cos(dec1 * D2R) * math.cos(dec2 * D2R) * s2 * s2))) / D2R
  }

  // ---- history-based filters ----

  /** `filter_orphan_grb_candidates/filter.py:24-157`. */
  def orphanGrb(a: Alert): Boolean = {
    val v = a.chist.filter(_.valid)
    if (!(age(a) <= 30 && v.forall(_.mag > 18) && v.size == 3)) return false
    val (f2, f3, m2, m3) = (v(1).fid, v(2).fid, v(1).mag, v(2).mag)
    val rateOk =
      if (f2 == f3) m3 - m2 > 0 else if (f3 > f2) m2 - m3 <= 0.3 else m3 - m2 > 0
    def bandMean(b: Int): Option[Double] = {
      val ms = v.filter(_.fid == b).map(_.mag)
      if (ms.isEmpty) None else Some(ms.foldLeft(0.0)(_ + _) / ms.size)
    }
    val colorOk = (bandMean(1), bandMean(2)) match {
      case (Some(g), Some(r)) => g - r >= 0
      case _ => false
    }
    v(2).jd - v(0).jd < 10.0 && rateOk && colorOk &&
      v.forall(p => p.ssnamenr == null || p.ssnamenr == "null")
  }

  /** `filter_yso_spicy_candidates/filter.py:28-158`: known SPICY class,
    * |slope| > 0.025, and R² > 0.6 of the r-band linear fit (≥ 5 points).
    */
  def ysoSpicy(a: Alert): Boolean = {
    if (a.spicyClass == null || a.spicyClass == "Unknown") return false
    if (!(math.abs(a.lcSlopeR) > 0.025)) return false
    val pts = a.chist.filter(p => p.valid && p.fid == 2)
    val n = pts.size.toDouble
    if (n < 5) return false
    var sx = 0.0; var sy = 0.0; var sxx = 0.0; var syy = 0.0; var sxy = 0.0
    pts.foreach { p => sx += p.jd }
    pts.foreach { p => sy += p.mag }
    pts.foreach { p => sxx += p.jd * p.jd }
    pts.foreach { p => syy += p.mag * p.mag }
    pts.foreach { p => sxy += p.jd * p.mag }
    val ssxx = sxx - sx * sx / n
    val ssyy = syy - sy * sy / n
    val ssxy = sxy - sx * sy / n
    ssxx != 0.0 && ssyy != 0.0 && gt(1.0 - (ssyy - ssxy * ssxy / ssxx) / ssyy, 0.6)
  }

  private final case class FluxPt(jd: Double, f: Double, e: Double)

  /** σ-weighted least-squares slope and its error (`prefilter.py:66-84`);
    * None where the normal equations are singular.
    */
  private def wlsSlope(pts: Seq[FluxPt]): Option[(Double, Double)] = {
    val w = pts.map(p => 1.0 / (p.e * p.e))
    def s(f: FluxPt => Double) =
      pts.zip(w).foldLeft(0.0) { case (acc, (p, wi)) => acc + f(p) * wi }
    val sw = w.foldLeft(0.0)(_ + _)
    val swx = s(_.jd)
    val swy = s(_.f)
    val swxx = s(p => p.jd * p.jd)
    val swxy = s(p => p.jd * p.f)
    val denom = sw * swxx - swx * swx
    if (denom == 0.0) None
    else Some(((sw * swxy - swx * swy) / denom, math.sqrt(sw / denom)))
  }

  /** SNANA flux of a detection (`prefilter.py:152-166`). */
  private def flux(p: Point): FluxPt = {
    val sign = if (p.isdiffpos.contains("f")) -1.0 else 1.0
    FluxPt(p.jd, sign * StrictMath.pow(10.0, -0.4 * p.mag) * 1e11,
      9.21034e10 * StrictMath.exp(-0.921034 * p.mag) * p.sigmapsf.get.toDouble)
  }

  /** The `is_rising` detector (`prefilter.py:87-149`). */
  def isRising(a: Alert): Boolean = {
    val all = a.chist.filter(_.valid)
    def bandFlags(b: Int): (Boolean, Boolean) = {
      val pts = all.filter(_.fid == b).map(flux)
      val n = pts.size
      if (n < 2) return (false, false)
      val last = pts.last
      val prior = pts.init
      val rised = prior.exists(p =>
        gt(last.f - p.f, 2.0 * StrictMath.hypot(p.e, last.e)))
      val decayLast = prior.exists(p =>
        gt(p.f - last.f, 1.0 * StrictMath.hypot(p.e, last.e)))
      val decayConsec = pts.sliding(2).exists {
        case Seq(p, q) => gt(p.f - q.f, 1.0 * StrictMath.hypot(p.e, q.e))
        case _ => false
      }
      val ptp = pts.map(_.jd).max - pts.map(_.jd).min
      lazy val slopeRise = n >= 3 && ptp > 0.0 && (wlsSlope(pts) match {
        case Some((slope, serr)) => gt(slope, 3.0 * serr)
        case None => false
      })
      (rised || slopeRise, decayLast || decayConsec)
    }
    val (r1, d1) = bandFlags(1)
    val (r2, d2) = bandFlags(2)
    (r1 || r2) && !(d1 || d2)
  }

  /** `filter_early_tde_candidates/prefilter.py:189-382`. */
  def earlyTdePrefilter(a: Alert): Boolean = {
    val h = a.chist
    def nfid(b: Int) = h.count(p => p.valid && p.fid == b)
    a.roid != 3 && TdeWanted(a.cdsxmatch) && a.nalerthist >= 5 &&
      h.count(_.isdiffpos.contains("f")) <= 1 && nfid(1) > 0 && nfid(2) > 0 &&
      math.abs(galacticLat(a.c.ra, a.c.dec)) >= 20 && isRising(a)
  }

  /** DC magnitude of a detection over its reference source (fink-utils
    * `dc_mag`); None where the total flux is not positive.
    */
  private def dcMag(p: Point): Option[(Double, Double)] = {
    val ln10 = math.log(10.0)
    val diff = StrictMath.pow(10.0, -0.4 * p.mag)
    val diffSig = diff * p.sigmapsf.get.toDouble * ln10 / 2.5
    val ref = StrictMath.pow(10.0, -0.4 * p.magnr.toDouble)
    val refSig = ref * p.sigmagnr.toDouble * ln10 / 2.5
    val sign = if (p.isdiffpos.exists(Set("t", "1"))) 1.0 else -1.0
    val dc = ref + sign * diff
    if (!(dc > 0.0)) None
    else Some((-2.5 * StrictMath.log10(dc),
      2.5 / ln10 * math.sqrt(refSig * refSig + diffSig * diffSig) / dc))
  }

  /** `filter_rate_based_kn_candidates/filter.py:102-167`. */
  def rateBasedKn(a: Alert): Boolean = {
    val c = a.c
    val pre = c.drb.toDouble > 0.9 && c.classtar.toDouble > 0.4 &&
      age(a) < 5 && c.ndethist < 20 && c.isdiffpos == "t" &&
      (c.ssdistnr > 10 || c.ssdistnr < 0) &&
      ExtragalacticHosts(a.cdsxmatch) &&
      math.abs(galacticLat(c.ra, c.dec)) > 10
    if (!pre) return false
    val pts = a.chist.filter(p => p.valid && p.fid == c.fid)
    val good = pts.flatMap(p => dcMag(p).map { case (m, s) => FluxPt(p.jd, m, s) })
      .filter(_.f < 21)
    pts.size >= 2 && good.size >= 2 && good.last.jd - good.head.jd > 0.5 &&
      (wlsSlope(good) match {
        case Some((slope, _)) => gt(slope, 0.3)
        case None => false
      })
  }

  // ---- hostless family (`filter_*_hostless`, cheap cuts) ----

  def uncataloged(a: Alert): Boolean =
    a.c.distnr.toDouble > 1.5 && !simbadKnown(a.cdsxmatch) &&
      a.dr3Name == "nan" && a.roid != 3

  private def lastPresent(a: Alert, n: Int): Option[Vector[Point]] = {
    val h = a.chist
    if (h.size < n) None
    else Some(h.takeRight(n)).filter(_.forall(_.magpsf.isDefined))
  }

  def newHostless(a: Alert): Boolean = a.c.ndethist == 1 && uncataloged(a)
  def intraNightHostless(a: Alert): Boolean =
    a.c.ndethist == 2 && uncataloged(a) &&
      lastPresent(a, 2).exists(l => l(1).jd - l(0).jd < 12 / 24.0)
  def interNightHostless(a: Alert): Boolean =
    a.c.ndethist == 3 && uncataloged(a) &&
      lastPresent(a, 3).exists(l =>
        l(2).jd - l(1).jd > 12 / 24.0 && l(1).jd - l(0).jd < 12.0 / 24.0)

  /** The ELEPHANT image stage bounds (`filter_new_hostless/utils.py:139-141`). */
  def imageHostless(s: Scene): Boolean =
    s.ksScience >= 0 && s.ksScience <= 0.5 &&
      s.ksTemplate >= 0 && s.ksTemplate <= 0.85

  /** The 30 ZTF filters whose output is the plain mask and that bind
    * against the generated schema: the `live_fanout` topics.
    */
  val live: Seq[(String, Alert => Boolean)] = Seq(
    "ztf.quality_cuts" -> (a => a.c.rb.toDouble >= 0.55 && a.c.nbad == 0),
    "ztf.livestream.sn_candidates" -> snCandidate,
    "ztf.livestream.early_sn_candidates" -> earlySn,
    "ztf.livestream.kn_candidates" -> knCandidate,
    "ztf.livestream.sso_ztf_candidates" -> (_.roid == 3),
    "ztf.livestream.sso_fink_candidates" -> (_.roid == 2),
    "ztf.livestream.microlensing_candidates" -> (_.mulens > 0.0),
    "ztf.livestream.blazar" -> (a => Blazars(a.cdsxmatch)),
    "ztf.livestream.simbad_grav_candidates" -> (a => Gravitational(a.cdsxmatch)),
    "ztf.livestream.tns_match" -> (a => a.tns != "" && age(a) <= 30),
    "ztf.livestream.vra" -> (a => a.cdsxmatch == "Unknown" && a.roid != 3 &&
      a.c.magpsf.toDouble > 19.5 && a.c.drb.toDouble > 0.5),
    "ztf.livestream.yso_candidates" -> (a => Yso(a.cdsxmatch)),
    "ztf.rrlyr" -> (a => a.cdsxmatch == "RRLyr" || a.cdsxmatch == "RRLyrae"),
    "ztf.simbad_candidates" -> (a => simbadKnown(a.cdsxmatch)),
    "ztf.gaia_dr3_candidates" -> (_.dr3Name != "nan"),
    "ztf.tracklet_candidates" -> tracklet,
    "ztf.snlike" -> (a => a.rfSnia > 0.0 && a.cdsxmatch == "Unknown" &&
      a.c.neargaia.toDouble > 5.0 && a.c.distpsnr1.toDouble > 5.0),
    "ztf.example_filter" -> (a => simbadKnown(a.cdsxmatch) &&
      a.c.magpsf.toDouble > 20.5),
    "ztf.blazar_high_state" -> (a => a.blazar(0) > 1f && a.blazar(1) > 1f),
    "ztf.blazar_low_state" -> (a => a.blazar(2) >= 0f && a.blazar(2) < 1f &&
      a.blazar(3) >= 0f && a.blazar(3) < 1f),
    "ztf.vast_supernovae" -> (a => lt(lumDist(a), 200) && a.c.dec < -10 &&
      a.tns != "" && a.tns != "Unknown"),
    "ztf.vast_supernovae_candidates" -> (a => lt(lumDist(a), 200) &&
      a.c.dec < -10 && a.snnSnAll > 0.5),
    "ztf.orphan_grb_candidates" -> orphanGrb,
    "ztf.livestream.yso_spicy_candidates" -> ysoSpicy,
    "ztf.early_tde_prefilter" -> earlyTdePrefilter,
    "ztf.livestream.rate_based_kn_candidates" -> rateBasedKn,
    "ztf.livestream.new_hostless_fast" -> newHostless,
    "ztf.livestream.intra_night_hostless_fast" -> intraNightHostless,
    "ztf.livestream.inter_night_hostless_fast" -> interNightHostless,
    "ztf.livestream.unknowns" -> (a => finkClass(a, withTracklet = false) == "Unknown"))

  /** Per-filter pass counts of `alerts` for the live topics. */
  def liveCounts(alerts: Seq[Alert]): Map[String, Long] =
    live.map { case (n, p) => n -> alerts.count(p).toLong }.toMap
}
