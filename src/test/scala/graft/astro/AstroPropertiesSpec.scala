package graft.astro

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Property tests for the spherical-astronomy / photometry math over a
  * seeded random grid (SURVEY §5: scalar-math invariants + tabulated
  * anchor points).
  */
class AstroPropertiesSpec extends SparkSpec {

  private val rnd = new scala.util.Random(42)
  private val n = 500
  private lazy val grid = {
    import spark.implicits._
    (1 to n).map { i =>
      (i.toLong, rnd.nextDouble() * 360.0, rnd.nextDouble() * 180.0 - 90.0,
        rnd.nextDouble() * 360.0, rnd.nextDouble() * 180.0 - 90.0,
        rnd.nextDouble() * 10 + 12, rnd.nextDouble() * 2)
    }.toDF("id", "ra1", "dec1", "ra2", "dec2", "mag", "z").cache()
  }

  test("angular separation: identity, symmetry, range") {
    val r = grid.select(
      Astro.angSepDeg(col("ra1"), col("dec1"), col("ra1"), col("dec1")).as("self"),
      Astro.angSepDeg(col("ra1"), col("dec1"), col("ra2"), col("dec2")).as("ab"),
      Astro.angSepDeg(col("ra2"), col("dec2"), col("ra1"), col("dec1")).as("ba"))
      .collect()
    r.foreach { row =>
      assert(math.abs(row.getDouble(0)) < 1e-9)
      val (ab, ba) = (row.getDouble(1), row.getDouble(2))
      assert(math.abs(ab - ba) < 1e-9)
      assert(ab >= 0 && ab <= 180.0)
    }
  }

  test("angular separation: near-antipodal inputs clamp to ~180, never NaN") {
    import graft.expressions.AngularSeparation.compute
    // exactly antipodal and epsilon-perturbed antipodal points — the
    // radicand lands at or just above 1.0 in floating point; unclamped,
    // asin(sqrt(>1)) = NaN silently fails every `sep < r` predicate
    val cases = Seq(
      (0.0, 0.0, 180.0, 0.0),
      (10.0, 45.0, 190.0, -45.0),
      (10.0, 45.0, 190.0 + 1e-13, -45.0 - 1e-13),
      (359.9999999999, 89.9999999999, 179.9999999999, -89.9999999999))
    for ((ra1, dec1, ra2, dec2) <- cases) {
      val sep = compute(ra1, dec1, ra2, dec2)
      assert(!sep.isNaN, s"NaN at ($ra1,$dec1)-($ra2,$dec2)")
      assert(math.abs(sep - 180.0) < 1e-6, s"sep=$sep")
    }
  }

  test("galactic/ecliptic latitude: range + anchor points") {
    val r = grid.select(
      Astro.galacticLatDeg(col("ra1"), col("dec1")).as("b"),
      Astro.eclipticLatDeg(col("ra1"), col("dec1")).as("beta")).collect()
    r.foreach { row =>
      assert(row.getDouble(0) >= -90 && row.getDouble(0) <= 90)
      assert(row.getDouble(1) >= -90 && row.getDouble(1) <= 90)
    }
    val anchors = spark.range(1).select(
      Astro.galacticLatDeg(lit(192.85948), lit(27.12825)).as("ngp"),
      // galactic centre (Sgr A*, J2000 266.405, -28.936) lies in the plane
      Astro.galacticLatDeg(lit(266.405), lit(-28.936)).as("gc"),
      // north ecliptic pole: (270, 66.5607)
      Astro.eclipticLatDeg(lit(270.0), lit(66.5607083)).as("nep")).head()
    assert(math.abs(anchors.getDouble(0) - 90.0) < 1e-6)
    assert(math.abs(anchors.getDouble(1)) < 0.1)
    assert(math.abs(anchors.getDouble(2) - 90.0) < 1e-3)
  }

  test("mag <-> flux roundtrips") {
    val r = grid.select(col("mag"),
      Astro.mag2FluxcalSnana(col("mag"), lit(0.1)).getField("flux").as("fluxcal"),
      Astro.fluxNJyToMag(pow(10.0, (lit(31.4) - col("mag")) / 2.5)).as("mback"))
      .collect()
    r.foreach { row =>
      val mag = row.getDouble(0)
      // SNANA: FLUXCAL = 10^(-0.4 m) 1e11 -> invert
      val m2 = -2.5 * math.log10(row.getDouble(1) / 1e11)
      assert(math.abs(m2 - mag) < 1e-9)
      assert(math.abs(row.getDouble(2) - mag) < 1e-9)
    }
  }

  test("dcMag: with a negligible reference flux, DC mag equals magpsf") {
    val r = grid.select(col("mag"),
      Astro.dcMag(col("mag"), lit(0.1), lit(40.0), lit(0.1), lit("t"))
        .getField("dc_mag").as("dc")).collect()
    r.foreach { row =>
      assert(math.abs(row.getDouble(1) - row.getDouble(0)) < 1e-3)
    }
  }

  /** Plain-Scala fine trapezoid reference for the ΛCDM distance modulus. */
  private def muRef(z: Double, n: Int = 100000): Double = {
    val (c, h0, om) = (299792.458, 70.0, 0.3)
    val dz = z / n
    var sum = 0.0
    var i = 0
    while (i <= n) {
      val w = if (i == 0 || i == n) 0.5 else 1.0
      sum += w / math.sqrt(om * math.pow(1 + i * dz, 3) + (1 - om))
      i += 1
    }
    val dl = (c / h0) * sum * dz * (1 + z)
    5 * math.log10(dl) + 25
  }

  test("distance modulus: matches an independent fine quadrature") {
    val r = grid.filter(col("z") > 0.001).select(col("z"),
      Astro.distanceModulus(col("z")).as("mu64")).collect()
    r.foreach { row =>
      assert(math.abs(row.getDouble(1) - muRef(row.getDouble(0))) < 1e-3,
        s"z=${row.getDouble(0)}")
    }
    // known anchor: z=0.0233, H0=70, Om=0.3 -> dl ~ 101.3 Mpc -> mu ~ 35.03
    val mu = spark.range(1)
      .select(Astro.distanceModulus(lit(0.0233))).head().getDouble(0)
    assert(math.abs(mu - 35.0) < 0.1, mu)
  }
}
