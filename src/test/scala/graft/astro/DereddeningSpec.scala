package graft.astro

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** S12 dereddening: coefficient pins, cosecant-model behavior,
  * tabulated flux factors, the injectable-table seam, and the effect
  * on the TDE pipeline (temperature rises, everything else invariant).
  */
class DereddeningSpec extends SparkSpec {

  import spark.implicits._

  test("ZTF band coefficients match the reference's G23 Rv=3.1 values") {
    assert(Dereddening.AvZtf === Map(1 -> 3.681, 2 -> 2.635, 3 -> 1.944))
  }

  test("cosecant E(B-V): polar floor, monotone toward the plane, clamped") {
    // NGP itself: |sin b| = 1 -> exactly the polar mean
    val ngp = (192.85948, 27.12825)
    val rows = Seq(
      ("ngp", ngp._1, ngp._2),
      ("mid", 192.85948, 60.0),   // |b| ~ 52 deg
      ("low", 266.42, -29.01),    // galactic center, b ~ 0 -> clamp
      ("sgp", 12.85948, -27.12825)).toDF("n", "ra", "dec")
      .select(col("n"),
        Dereddening.ebvCosecant(col("ra"), col("dec")).as("ebv"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(rows("ngp") - Dereddening.EbvPole) < 1e-9)
    assert(math.abs(rows("sgp") - Dereddening.EbvPole) < 1e-6)
    assert(rows("mid") > rows("ngp") && rows("mid") < rows("low"))
    // the clamp caps the plane at EbvPole / sin(5 deg)
    assert(rows("low") <= Dereddening.EbvPole / math.sin(math.toRadians(5)) + 1e-9)
  }

  test("flux factor: tabulated values, identity off-band, deredden brightens") {
    val got = Seq((0.1, 1), (0.1, 2), (0.1, 3), (0.1, 7))
      .toDF("ebv", "fid")
      .select(Dereddening.fluxFactor(col("ebv"), col("fid")).as("f"))
      .collect().map(_.getDouble(0))
    // 10^(0.4 * 0.1 * Av)
    assert(math.abs(got(0) - math.pow(10, 0.04 * 3.681)) < 1e-12)
    assert(math.abs(got(1) - math.pow(10, 0.04 * 2.635)) < 1e-12)
    assert(math.abs(got(2) - math.pow(10, 0.04 * 1.944)) < 1e-12)
    assert(got(3) === 1.0) // unknown band: no correction, no throw
    assert(got.take(3).forall(_ > 1.0)) // dereddening always brightens
  }

  test("injectable E(B-V) table overrides cells, cosecant fills the rest") {
    val alerts = Seq(
      ("a", 10.2, 41.3),   // covered by the table cell (10, 41)
      ("b", 150.0, 60.0))  // not covered -> cosecant fallback
      .map { case (id, ra, dec) => (id, (ra, dec)) }
      .toDF("objectId", "candidate")
      .select(col("objectId"), col("candidate").cast(
        "struct<ra:double,dec:double>").as("candidate"))
    val table = Seq((10, 41, 0.062)).toDF("grid_ra_deg", "grid_dec_deg", "ebv")
    val out = new Dereddening.EbvTable(table).apply(alerts)
      .select("objectId", "ebv")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(out("a") - 0.062) < 1e-12)
    val expB = Seq((150.0, 60.0)).toDF("ra", "dec")
      .select(Dereddening.ebvCosecant(col("ra"), col("dec")))
      .head().getDouble(0)
    assert(math.abs(out("b") - expB) < 1e-12)
  }

  test("injected ebv column overrides the cosecant model in TDE features") {
    val tde = spark.read.parquet(graft.Fixtures("datatest/tde"))
    val pre = tde.filter(
      graft.filters.ztf.ZtfPhotometryFilters.earlyTdePrefilter.mask(tde))
    def temps(df: org.apache.spark.sql.DataFrame) =
      graft.filters.ztf.EarlyTdeScorer.withFeatures(df, deredden = true)
        .select(col("objectId"), col("tde_features.temperature"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val cosecant = temps(pre)
    // a big injected E(B-V) must move the temperature beyond what the
    // high-latitude cosecant model would ever produce
    val injected = temps(pre.withColumn("ebv", lit(0.5)))
    assert(cosecant.keySet === injected.keySet)
    cosecant.keys.foreach { oid =>
      assert(injected(oid) > cosecant(oid), oid)
    }
  }

  test("TDE features: dereddening raises temperature, leaves SNRs/chi2/t0") {
    val tde = spark.read.parquet(graft.Fixtures("datatest/tde"))
    val pre = tde.filter(
      graft.filters.ztf.ZtfPhotometryFilters.earlyTdePrefilter.mask(tde))
    def feats(deredden: Boolean) =
      graft.filters.ztf.EarlyTdeScorer.withFeatures(pre, deredden)
        .select(col("objectId"), col("tde_features.*"))
        .collect().map(r => r.getAs[String]("objectId") -> r).toMap
    val raw = feats(false)
    val der = feats(true)
    assert(raw.nonEmpty)
    raw.keys.foreach { oid =>
      val (r, d) = (raw(oid), der(oid))
      // dereddening brightens g more than r -> hotter color temperature
      assert(d.getAs[Double]("temperature") > r.getAs[Double]("temperature"),
        oid)
      // scale-invariant features must be bit-identical
      for (f <- Seq("snr_rise_time", "r_chisq", "rel_reference_time",
          "e_reference_time"))
        assert(d.getAs[Double](f) === r.getAs[Double](f), s"$oid.$f")
      // snr_T = WienC / (T * sLnRatio) with sLnRatio invariant, so it
      // scales exactly as T_raw / T_der
      val expSnrT = r.getAs[Double]("snr_temperature") *
        r.getAs[Double]("temperature") / d.getAs[Double]("temperature")
      assert(math.abs(d.getAs[Double]("snr_temperature") - expSnrT) <
        1e-9 * expSnrT, oid)
    }
    // the full pipeline (dereddening on) still yields the 4 candidates
    assert(graft.filters.ztf.EarlyTdeScorer.earlyTdeCandidates(tde)
      .count() === 4L)
  }
}
