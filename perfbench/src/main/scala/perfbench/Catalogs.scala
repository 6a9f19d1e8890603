package perfbench

/** One cross-match catalog source (degrees; radius in arcsec). `name`
  * is the label the filter attaches.
  */
final case class Source(name: String, ra: Double, dec: Double, radius: Double)

/** One Mangrove galaxy (the early-kilonova host catalog). */
final case class Galaxy(ra: Double, dec: Double, lumDist: Double, angDist: Double)

/** Seeded cross-match catalogs and their expected matches.
  *
  * Each catalog has sources planted near randomly chosen alerts, at
  * U(0.05, 0.8) of the match radius (70 %) or U(1.25, 3) of it (30 %),
  * so matches and near misses both occur; a tenth of the planted alerts
  * get a second, farther source that competes for the mutual-nearest
  * match. The rest of each catalog is spread uniformly over the sky.
  * Sexagesimal catalogs are written with a fixed precision, and the
  * expectation uses the coordinates read back from those strings.
  */
object Catalogs {

  final case class Spec(name: String, planted: Int, background: Int,
      radius: Alerts.Rng => Double, positiveOnly: Boolean)

  /** Catalogs behind `ztf.known_tde`, `ztf.livestream.magnetic_cvs`,
    * `ztf.symbiotic_stars` and `ztf.dwarf_agn`.
    */
  val specs: Seq[Spec] = Seq(
    Spec("ztf.known_tde", 150, 500, _ => 5.0, positiveOnly = true),
    Spec("ztf.livestream.magnetic_cvs", 300, 900, r => r.u(2, 10), positiveOnly = true),
    Spec("ztf.symbiotic_stars", 400, 1500, r => r.u(1, 8), positiveOnly = false),
    Spec("ztf.dwarf_agn", 250, 1000, r => r.u(2, 15), positiveOnly = false))

  /** A point `sepDeg` away from (ra, dec) at position angle `pa`. */
  def offset(ra: Double, dec: Double, sepDeg: Double, pa: Double): (Double, Double) = {
    val d = math.toRadians(dec); val s = math.toRadians(sepDeg)
    val dec2 = math.asin(math.sin(d) * math.cos(s) + math.cos(d) * math.sin(s) * math.cos(pa))
    val ra2 = math.toRadians(ra) + math.atan2(math.sin(pa) * math.sin(s) * math.cos(d),
      math.cos(s) - math.sin(d) * math.sin(dec2))
    ((math.toDegrees(ra2) % 360 + 360) % 360, math.toDegrees(dec2))
  }

  private def randomSky(rng: Alerts.Rng): (Double, Double) =
    (rng.u(0, 360), math.toDegrees(math.asin(rng.u(-1, 1))))

  def generate(seed: Long, alerts: IndexedSeq[Alert]): Map[String, Vector[Source]] = {
    val rng = new Alerts.Rng(seed * 31 + 7)
    specs.map { s =>
      val planted = Vector.fill(s.planted) {
        val a = alerts(rng.i(alerts.size))
        val r = s.radius(rng)
        val f = if (rng.p(0.7)) rng.u(0.05, 0.8) else rng.u(1.25, 3)
        val first = offset(a.c.ra, a.c.dec, f * r / 3600, rng.u(0, 2 * math.Pi))
        val second =
          if (rng.p(0.1)) Some(offset(a.c.ra, a.c.dec, f * r * rng.u(1.2, 2) / 3600,
            rng.u(0, 2 * math.Pi)))
          else None
        (first +: second.toSeq).map { case (ra, dec) => (ra, dec, r) }
      }.flatten
      val bg = Vector.fill(s.background) {
        val (ra, dec) = randomSky(rng); (ra, dec, s.radius(rng))
      }
      s.name -> (planted ++ bg).zipWithIndex.map { case ((ra, dec, r), i) =>
        Source(f"${s.name.split('.').last}-$i%05d", ra, dec, r)
      }
    }.toMap
  }

  /** "HH MM SS.sss" */
  def hms(raDeg: Double): String = {
    val totalMs = math.round(raDeg / 15 * 3600 * 1000)
    val h = totalMs / 3600000; val m = totalMs / 60000 % 60
    f"$h%02d $m%02d ${(totalMs % 60000) / 1000.0}%06.3f"
  }

  /** "±DD MM SS.ss" */
  def dms(decDeg: Double): String = {
    val sign = if (decDeg < 0) "-" else "+"
    val totalCs = math.round(math.abs(decDeg) * 3600 * 100)
    val d = totalCs / 360000; val m = totalCs / 6000 % 60
    f"$sign$d%02d $m%02d ${(totalCs % 6000) / 100.0}%05.2f"
  }

  private def parts(s: String): Array[Double] = s.trim.split("\\s+").map(_.toDouble)
  def parseHms(s: String): Double = {
    val p = parts(s); (p(0) + p(1) / 60.0 + p(2) / 3600.0) * 15.0
  }
  def parseDms(s: String): Double = {
    val p = parts(s)
    val sign = if (s.trim.startsWith("-")) -1.0 else 1.0
    sign * (math.abs(p(0)) + p(1) / 60.0 + p(2) / 3600.0)
  }

  /** The coordinates the catalog loader will see for `s`. */
  def asRead(catalog: String, s: Source): Source =
    if (catalog == "ztf.livestream.magnetic_cvs" || catalog == "ztf.symbiotic_stars")
      s.copy(ra = parseHms(hms(s.ra)), dec = parseDms(dms(s.dec)))
    else s

  /** Alerts labeled by mutual-nearest matching: the source is the
    * alert's nearest, the alert is the source's nearest, and their
    * separation is below the source's radius.
    */
  def mutualMatches(alerts: IndexedSeq[Alert], sources: IndexedSeq[Source]): Set[Long] = {
    val window = 60.0 / 3600 // every radius is far below one arcminute
    val byDec = alerts.sortBy(_.c.dec)
    val decs = byDec.map(_.c.dec).toArray
    def from(d: Double): Int = {
      val i = java.util.Arrays.binarySearch(decs, d)
      if (i >= 0) i else -i - 1
    }
    val pairs = for {
      (s, si) <- sources.zipWithIndex
      ai <- from(s.dec - window) until from(s.dec + window)
      a = byDec(ai)
      sep = sepDeg(a, s) if sep < window
    } yield (a.candid, si, sep * 3600)
    val alertBest = pairs.groupBy(_._1).map { case (k, ps) => k -> ps.minBy(_._3)._2 }
    val sourceBest = pairs.groupBy(_._2).map { case (k, ps) => k -> ps.minBy(_._3) }
    sourceBest.collect {
      case (si, (aid, _, sep)) if alertBest(aid) == si && sep < sources(si).radius => aid
    }.toSet
  }

  private def sepDeg(a: Alert, s: Source) = Expect.sepDeg(a.c.ra, a.c.dec, s.ra, s.dec)

  /** Alerts eligible for each catalog filter. */
  def eligible(spec: Spec, alerts: IndexedSeq[Alert]): IndexedSeq[Alert] =
    if (spec.positiveOnly) alerts.filter(a => Set("t", "1")(a.c.isdiffpos)) else alerts

  // ---- early kilonova (`filter_early_kn_candidates/filter.py:52-133`) ----

  def earlyKnPreCuts(a: Alert): Boolean =
    a.c.drb.toDouble > 0.5 && a.c.classtar.toDouble > 0.4 &&
      a.c.jd - a.c.jdstarthist < 0.25 &&
      Expect.ExtragalacticHosts(a.cdsxmatch) && a.roid != 3 &&
      math.abs(Expect.galacticLat(a.c.ra, a.c.dec)) > 10 &&
      math.abs(Expect.eclipticLat(a.c.ra, a.c.dec)) > 10

  private def absMag(a: Alert, g: Galaxy): Double =
    (a.c.magpsf - 25).toDouble - 5.0 * StrictMath.log10(g.lumDist)

  /** Mangrove galaxies: uniform background plus, for 60 % of the
    * alerts past the early-KN cuts, one galaxy whose projected distance
    * (U(0.3, 0.85) or U(1.2, 2.5) × the 10 kpc limit) and absolute
    * magnitude (inside or outside the −17…−15 window) are drawn on both
    * sides of the cuts.
    */
  def mangrove(seed: Long, alerts: IndexedSeq[Alert], background: Int): Vector[Galaxy] = {
    val rng = new Alerts.Rng(seed * 131 + 3)
    val planted = alerts.filter(earlyKnPreCuts).filter(_ => rng.p(0.6)).map { a =>
      val absTarget = rng.u() match {
        case x if x < 0.6 => rng.u(-16.6, -15.4)
        case x if x < 0.8 => rng.u(-17.8, -17.2)
        case _ => rng.u(-14.8, -14.2)
      }
      val lum = StrictMath.pow(10, ((a.c.magpsf - 25).toDouble - absTarget) / 5)
      val ang = lum * rng.u(0.9, 0.99)
      val limitRad = 0.01 / ang
      val f = if (rng.p(0.7)) rng.u(0.3, 0.85) else rng.u(1.2, 2.5)
      val (ra, dec) = offset(a.c.ra, a.c.dec, math.toDegrees(f * limitRad), rng.u(0, 2 * math.Pi))
      Galaxy(ra, dec, lum, ang)
    }
    val bg = Vector.fill(background) {
      val (ra, dec) = randomSky(rng)
      val lum = rng.u(10, 400)
      Galaxy(ra, dec, lum, lum * rng.u(0.9, 0.99))
    }
    (planted ++ bg).toVector
  }

  def earlyKnMatches(alerts: IndexedSeq[Alert], gals: IndexedSeq[Galaxy]): Set[Long] = {
    val byDec = gals.sortBy(_.dec)
    val decs = byDec.map(_.dec).toArray
    def from(d: Double): Int = {
      val i = java.util.Arrays.binarySearch(decs, d)
      if (i >= 0) i else -i - 1
    }
    alerts.filter(earlyKnPreCuts).filter { a =>
      (from(a.c.dec - 2.0) until from(a.c.dec + 2.0)).exists { gi =>
        val g = byDec(gi)
        val sep = Expect.sepDeg(a.c.ra, a.c.dec, g.ra, g.dec)
        val m = absMag(a, g)
        sep < 2.0 && math.toRadians(sep) < 0.01 / g.angDist && m > -17 && m < -15
      }
    }.map(_.candid).toSet
  }
}
