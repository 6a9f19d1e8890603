package graft.filters.ztf

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.filters.AlertFilter
import graft.astro.Astro
import graft.expressions.HistoryFits
import ZtfHistoryFilters.{chist, validMag}

/** Photometric model-fit filters (G1-G3): the rate-based kilonova search
  * and the early-TDE prefilter. Both run the reference's per-alert
  * numpy/scipy fits as closed-form weighted least squares over in-row
  * history arrays, in the per-row kernels of
  * [[graft.expressions.HistoryFits]] — no UDF, no collect.
  */
object ZtfPhotometryFilters {

  /** struct(jd, f, e, fid, ok) per history point: SNANA flux domain
    * (`prefilter.py:152-166`: FLUXCAL = 10^(−0.4 m)·10^11, error
    * 9.21034e10·exp(−0.921034·m)·σ, sign flipped for negative
    * subtractions).
    */
  private[ztf] def fluxHistoryCol: Column = fluxHistory

  /** [[fluxHistoryCol]] plus the 5σ NON-DETECTIONS: history points
    * whose magpsf is null/NaN (tag `upperlim` in the reference's
    * archive) become censored rows with f = 10^(11 − 0.4·diffmaglim)
    * and e = f/5 — the exact substitution the reference feeds the
    * Rainbow fit (`filter_early_tde_candidates/lcs.py:175,285-298`) —
    * marked by the extra `ul` field [[graft.expressions.RainbowFit]]
    * treats one-sided. Rows that are neither valid detections nor
    * carry a usable diffmaglim stay ok=false, ul=false (skipped).
    */
  private[ztf] def fluxHistoryWithLimitsCol: Column = {
    val z = arrays_zip(
      chist("jd").as("cjd"), chist("magpsf").as("cmag"),
      chist("sigmapsf").as("csig"), chist("isdiffpos").as("cisd"),
      chist("fid").as("cfid"), chist("diffmaglim").as("clim"))
    transform(z, p => {
      val m = p.getField("cmag").cast("double")
      val s = p.getField("csig").cast("double")
      val lim = p.getField("clim").cast("double")
      val det = m.isNotNull && !isnan(m)
      val ul = !det && lim.isNotNull && !isnan(lim)
      val sign = when(p.getField("cisd") === "f", -1.0).otherwise(1.0)
      val fDet = sign * pow(10.0, lit(-0.4) * m) * 1e11
      val fLim = pow(10.0, lit(-0.4) * lim) * 1e11
      struct(
        p.getField("cjd").cast("double").as("jd"),
        when(det, fDet).otherwise(fLim).as("f"),
        when(det, lit(9.21034e10) * exp(lit(-0.921034) * m) * s)
          .otherwise(fLim / 5.0).as("e"),
        p.getField("cfid").cast("int").as("fid"),
        det.as("ok"),
        ul.as("ul"))
    })
  }

  private def fluxHistory: Column = {
    // arrays_zip: each chist() array is a COLLECTION argument, evaluated
    // once per row — an element_at(chist(..), i) inside the lambda body
    // would rebuild the concat array once per history point
    val z = arrays_zip(
      chist("jd").as("cjd"), chist("magpsf").as("cmag"),
      chist("sigmapsf").as("csig"), chist("isdiffpos").as("cisd"),
      chist("fid").as("cfid"))
    transform(z, p => {
      val m = p.getField("cmag").cast("double")
      val s = p.getField("csig").cast("double")
      val sign = when(p.getField("cisd") === "f", -1.0).otherwise(1.0)
      struct(
        p.getField("cjd").cast("double").as("jd"),
        (sign * pow(10.0, lit(-0.4) * m) * 1e11).as("f"),
        (lit(9.21034e10) * exp(lit(-0.921034) * m) * s).as("e"),
        p.getField("cfid").cast("int").as("fid"),
        (m.isNotNull && !isnan(m)).as("ok"))
    })
  }

  /** SIMBAD classes admitted by the early-TDE prefilter —
    * `prefilter.py:195-287` (the 90-entry whitelist).
    */
  val TdeWantedClasses: Seq[String] = Seq(
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

  /** Early-TDE prefilter (stage 1 of SURVEY §3.3,
    * `prefilter.py:189-382`): non-MPC, whitelisted host class, ≥5
    * alerts, ≤1 negative subtraction, both bands detected, off the
    * galactic plane, and a rising light curve. The stage-2 Rainbow/XGB
    * scorer consumes the survivors driver-side.
    */
  val earlyTdePrefilter: AlertFilter = AlertFilter(
    "ztf.early_tde_prefilter",
    "Early TDE candidate pre-selection (rising nuclear transients)",
    Seq("roid", "cdsxmatch", "nalerthist", "candidate", "prv_candidates"),
    mask = _ => {
      val cisd = chist("isdiffpos")
      val cmag = chist("magpsf")
      val cfid = chist("fid")
      val nneg = size(filter(cisd, x => x === "f"))
      def nfid(b: Int): Column = size(filter(
        zip_with(cmag, cfid, (m, f) => struct(m.as("m"), f.as("f"))),
        s => validMag(s.getField("m")) && s.getField("f").cast("int") === b))
      val b = Astro.galacticLatDeg(
        col("candidate.ra").cast("double"), col("candidate.dec").cast("double"))
      col("roid") =!= 3 &&
        col("cdsxmatch").isin(TdeWantedClasses: _*) &&
        col("nalerthist") >= 5 &&
        nneg <= 1 && nfid(1) > 0 && nfid(2) > 0 &&
        abs(b) >= 20 &&
        HistoryFits.isRising(fluxHistory, nsRise = 2, nsDecay = 1, nsSlope = 3)
    })

  /** Rate-based kilonova candidates (G1, Andreoni+21 cuts —
    * `filter_rate_based_kn_candidates/filter.py:102-167`): quality/
    * newness/position cuts, then a σ-weighted linear fit of the same-band
    * DC-magnitude history; keep fading faster than 0.3 mag/day. The
    * reference's final SDSS star veto is an external HTTP enrichment
    * (O26) stubbed as pass-through.
    */
  val rateBasedKn: AlertFilter = AlertFilter(
    "ztf.livestream.rate_based_kn_candidates",
    "Rate-based kilonova candidates (Andreoni+21)",
    Seq("cdsxmatch", "candidate", "prv_candidates"), mask = _ => {
      val cjd = chist("jd")
      val cmag = chist("magpsf")
      val csig = chist("sigmapsf")
      val cmagnr = chist("magnr")
      val csigmagnr = chist("sigmagnr")
      val cisd = chist("isdiffpos")
      val cfid = chist("fid")
      val lastIsd = try_element_at(cisd, lit(-1))
      val lastFid = try_element_at(cfid, lit(-1)).cast("int")
      val b = Astro.galacticLatDeg(
        col("candidate.ra").cast("double"), col("candidate.dec").cast("double"))
      val pre = col("candidate.drb") > 0.9 &&
        col("candidate.classtar") > 0.4 &&
        (col("candidate.jd") - col("candidate.jdstarthist") < 5) &&
        col("candidate.ndethist") < 20 &&
        lastIsd === "t" &&
        (col("candidate.ssdistnr") > 10 || col("candidate.ssdistnr") < 0) &&
        col("cdsxmatch").isin(graft.filters.ztf.SimbadClasses.ExtragalacticHosts: _*) &&
        abs(b) > 10

      // same-band valid history -> DC magnitudes (`dc_mag`, fink-utils);
      // arrays_zip so each history array evaluates once per row
      val z = arrays_zip(cjd.as("zjd"), cmag.as("zm"), csig.as("zs"),
        cmagnr.as("zmr"), csigmagnr.as("zsr"), cisd.as("zisd"),
        cfid.as("zfid"))
      val pts = filter(
        transform(z, p => struct(
          p.getField("zjd").cast("double").as("jd"),
          p.getField("zm").cast("double").as("m"),
          p.getField("zs").cast("double").as("s"),
          p.getField("zmr").cast("double").as("mr"),
          p.getField("zsr").cast("double").as("sr"),
          p.getField("zisd").as("isd"),
          p.getField("zfid").cast("int").as("fid"))),
        p => validMag(p.getField("m")) && p.getField("fid") === lastFid)
      val dc = transform(pts, p => {
        val d = Astro.dcMag(p.getField("m"), p.getField("s"),
          p.getField("mr"), p.getField("sr"), p.getField("isd"))
        struct(p.getField("jd").as("jd"),
          d.getField("dc_mag").as("y"), d.getField("dc_sigmag").as("e"))
      })
      // outlier cut: dc mag < 21 (NaN/null dc drops out, as in pandas)
      val good = filter(dc, p => p.getField("y") < 21)
      // good ⊆ pts, so n ≥ 2 also stands for the reference's size(pts) ≥ 2;
      // the fit is bound once through a one-element array (each getField
      // of the kernel would copy it with its whole `good` subtree), and
      // `exists` keeps the predicate's three-valued result
      val fit = HistoryFits.weightedSlope(good)
      pre && exists(array(fit), f => f.getField("n") >= 2 &&
        f.getField("span") > 0.5 && f.getField("slope") > 0.3)
    })

  val all: Seq[AlertFilter] = Seq(earlyTdePrefilter, rateBasedKn)
}
