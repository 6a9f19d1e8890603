package graft.filters.ztf

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.filters.AlertFilter

/** SIMBAD class lists shared by several filters (public fink-utils
  * `return_list_of_eg_host`, consumed at e.g.
  * `fink_filters/ztf/livestream/filter_sn_candidates/filter.py:93`).
  */
object SimbadClasses {
  val ExtragalacticHosts: Seq[String] = Seq(
    "Unknown", "Candidate_SN*", "SN", "SN candidate",
    "galaxy", "Galaxy", "EmG", "Seyfert", "Seyfert_1", "Seyfert_2",
    "BlueCompG", "StarburstG", "LSB_G", "HII_G", "High_z_G", "GinPair",
    "GinGroup", "BClG", "GinCl", "PartofG")

  val Gravitational: Seq[String] = Seq(
    "Gravitation", "LensingEv", "GravLensSystem", "GravLens", "LensedImage",
    "LensedG", "LensedQ", "BlackHole", "GravWaveEvent")

  val Blazars: Seq[String] =
    Seq("Blazar", "Blazar_Candidate", "BLLac", "BLLac_Candidate")

  val Yso: Seq[String] = Seq(
    "Candidate_YSO", "Candidate_TTau*", "YSO_Candidate", "TTau*_Candidate")
}

/** The ZTF filter catalog: every pure-predicate filter from SURVEY.md §2.5
  * as a native Catalyst expression (no UDF, whole-stage codegen).
  * Reference sites are cited per filter.
  */
object ZtfFilters {
  import SimbadClasses._

  private def cand(field: String): Column = col(s"candidate.$field")

  /** rb ≥ 0.55 ∧ nbad == 0 — `filter_quality_cuts/filter.py:48-50`. */
  val qualityCuts: AlertFilter = AlertFilter(
    "ztf.quality_cuts", "Good-quality alerts (real-bogus, bad pixels)",
    Seq("candidate.rb", "candidate.nbad"),
    mask = _ => cand("rb") >= 0.55 && cand("nbad") === 0)

  /** SN-Ia candidates — `livestream/filter_sn_candidates/filter.py:86-104`. */
  val snCandidates: AlertFilter = AlertFilter(
    "ztf.livestream.sn_candidates", "SN Ia candidates (SuperNNova + cuts)",
    Seq("cdsxmatch", "snn_snia_vs_nonia", "snn_sn_vs_all", "candidate.drb",
      "candidate.classtar", "candidate.jd", "candidate.jdstarthist", "roid",
      "candidate.ndethist"), mask = _ => {
    val snn = col("snn_snia_vs_nonia").cast("double") > 0.5 ||
      col("snn_sn_vs_all").cast("double") > 0.5
    snn && col("cdsxmatch").isin(ExtragalacticHosts: _*) &&
      (cand("jd") - cand("jdstarthist") <= 90) &&
      cand("drb") > 0.5 && cand("classtar") > 0.4 &&
      cand("ndethist").cast("int") > 1 && col("roid").cast("int") =!= 3
  })

  /** Early SN-Ia — `livestream/filter_early_sn_candidates/filter.py:78-90`.
    * Note: unlike sn_candidates, no jd−jdstarthist or roid cut (as-is).
    */
  val earlySnCandidates: AlertFilter = AlertFilter(
    "ztf.livestream.early_sn_candidates", "Early SN Ia candidates",
    Seq("cdsxmatch", "snn_snia_vs_nonia", "snn_sn_vs_all",
      "rf_snia_vs_nonia", "candidate.ndethist", "candidate.drb",
      "candidate.classtar"), mask = _ => {
    val snn = col("snn_snia_vs_nonia").cast("double") > 0.5 ||
      col("snn_sn_vs_all").cast("double") > 0.5
    snn && col("cdsxmatch").isin(ExtragalacticHosts: _*) &&
      cand("drb") > 0.5 && cand("classtar") > 0.4 &&
      cand("ndethist").cast("int") <= 20 &&
      col("rf_snia_vs_nonia").cast("double") > 0.5
  })

  /** Kilonova candidates (core mask) —
    * `livestream/filter_kn_candidates/filter.py:87-99`.
    */
  val knCandidates: AlertFilter = AlertFilter(
    "ztf.livestream.kn_candidates", "Kilonova candidates (random forest)",
    Seq("rf_kn_vs_nonkn", "candidate.drb", "candidate.classtar",
      "candidate.jd", "candidate.jdstarthist", "candidate.ndethist", "roid",
      "cdsxmatch"), mask = _ => {
    col("rf_kn_vs_nonkn").cast("double") > 0.5 &&
      cand("drb") > 0.5 && cand("classtar") > 0.4 &&
      (cand("jd") - cand("jdstarthist") < 5) &&
      col("roid") =!= 3 &&
      cand("ndethist").cast("double") < 20 &&
      col("cdsxmatch").isin(ExtragalacticHosts: _*)
  })

  /** roid == 3 (MPC-confirmed solar-system object) —
    * `livestream/filter_sso_ztf_candidates/filter.py:48`.
    */
  val ssoZtfCandidates: AlertFilter = AlertFilter(
    "ztf.livestream.sso_ztf_candidates", "Known MPC solar-system objects",
    Seq("roid"),
    mask = _ => col("roid").cast("int") === 3)

  /** roid == 2 — `livestream/filter_sso_fink_candidates/filter.py:48`. */
  val ssoFinkCandidates: AlertFilter = AlertFilter(
    "ztf.livestream.sso_fink_candidates", "Fink SSO candidates",
    Seq("roid"),
    mask = _ => col("roid").cast("int") === 2)

  /** mulens > 0 — `livestream/filter_microlensing_candidates/filter.py:48`. */
  val microlensingCandidates: AlertFilter = AlertFilter(
    "ztf.livestream.microlensing_candidates", "Microlensing candidates",
    Seq("mulens"),
    mask = _ => col("mulens") > 0.0)

  /** SIMBAD blazar classes — `livestream/filter_blazar/filter.py:63-64`. */
  val blazar: AlertFilter = AlertFilter(
    "ztf.livestream.blazar", "SIMBAD-matched blazars",
    Seq("cdsxmatch"),
    mask = _ => col("cdsxmatch").isin(Blazars: _*))

  /** SIMBAD gravitational-lensing / GW classes —
    * `livestream/filter_simbad_grav_candidates/filter.py:52-62`.
    */
  val simbadGravCandidates: AlertFilter = AlertFilter(
    "ztf.livestream.simbad_grav_candidates", "SIMBAD gravitation classes",
    Seq("cdsxmatch"),
    mask = _ => col("cdsxmatch").isin(Gravitational: _*))

  /** TNS match, young — `livestream/filter_tns_match/filter.py:107-110`. */
  val tnsMatch: AlertFilter = AlertFilter(
    "ztf.livestream.tns_match", "Young alerts with a TNS counterpart",
    Seq("tns", "candidate.jd", "candidate.jdstarthist"),
    mask = _ => col("tns") =!= "" && (cand("jd") - cand("jdstarthist") <= 30))

  /** Virtual research assistant — `livestream/filter_vra/filter.py:59-62`. */
  val vra: AlertFilter = AlertFilter(
    "ztf.livestream.vra", "VRA: faint unknown transients",
    Seq("cdsxmatch", "roid", "candidate.magpsf", "candidate.drb"),
    mask = _ => col("cdsxmatch") === "Unknown" && col("roid") =!= 3 &&
      cand("magpsf") > 19.5 && cand("drb") > 0.5)

  /** SIMBAD YSO classes — `livestream/filter_yso_candidates/filter.py:51-58`. */
  val ysoCandidates: AlertFilter = AlertFilter(
    "ztf.livestream.yso_candidates", "Young stellar object candidates",
    Seq("cdsxmatch"),
    mask = _ => col("cdsxmatch").isin(Yso: _*))

  /** RR Lyrae — `filter_rrlyr/filter.py:50`. */
  val rrlyr: AlertFilter = AlertFilter(
    "ztf.rrlyr", "SIMBAD RR Lyrae",
    Seq("cdsxmatch"),
    mask = _ => col("cdsxmatch") === "RRLyr" || col("cdsxmatch") === "RRLyrae")

  /** Known SIMBAD counterpart (minus failures and static galaxies) —
    * `filter_simbad_candidates/filter.py:54-62`; the hostless family's
    * [[ZtfHostlessFilters.isUncataloged]] negates the same test.
    */
  val simbadCandidates: AlertFilter = AlertFilter(
    "ztf.simbad_candidates", "Alerts with a SIMBAD counterpart",
    Seq("cdsxmatch"), mask = _ => inSimbad)

  private[ztf] def inSimbad: Column = {
    val c = col("cdsxmatch")
    !c.isin("Unknown", "Transient", "Fail", "Fail 504") &&
      !c.startsWith("Fail") && !c.startsWith("Galaxy")
  }

  /** Gaia DR3 counterpart; note the reference's *string* "nan" sentinel —
    * `filter_gaia_candidates/filter.py:45-46`.
    */
  val gaiaDr3Candidates: AlertFilter = AlertFilter(
    "ztf.gaia_dr3_candidates", "Alerts with a Gaia DR3 counterpart",
    Seq("DR3Name"),
    mask = _ => col("DR3Name") =!= "nan")

  /** Tracklet (satellite glint trains) —
    * `filter_tracklet_candidates/filter.py:46`.
    */
  val trackletCandidates: AlertFilter = AlertFilter(
    "ztf.tracklet_candidates", "Tracklet (artificial satellite) events",
    Seq("tracklet"),
    mask = _ => col("tracklet").startsWith("TRCK_"))

  /** SN-like for follow-up — `filter_snlike/filter.py:43-46` (args bound to
    * rf_snia_vs_nonia / neargaia / distpsnr1 by the caller).
    */
  val snlike: AlertFilter = AlertFilter(
    "ztf.snlike", "Isolated unknown transients with SN-like RF score",
    Seq("rf_snia_vs_nonia", "cdsxmatch", "candidate.neargaia",
      "candidate.distpsnr1"),
    mask = _ =>
      col("rf_snia_vs_nonia") > 0.0 && col("cdsxmatch") === "Unknown" &&
        cand("neargaia") > 5.0 && cand("distpsnr1") > 5.0)

  /** Documentation example filter — `filter_example/filter.py:52-65`. */
  val exampleFilter: AlertFilter = AlertFilter(
    "ztf.example_filter", "Faint SIMBAD-matched alerts (docs example)",
    Seq("cdsxmatch", "candidate.magpsf"), mask = _ => {
    val c = col("cdsxmatch")
    !c.isin("Unknown", "Transient") &&
      !c.startsWith("Fail") && !c.startsWith("Galaxy") &&
      cand("magpsf") > 20.5
  })

  /** Blazar high state from the `blazar_stats` map —
    * `filter_blazar_high_state/filter.py:123-124` (map access idiom at
    * :108-117).
    */
  val blazarHighState: AlertFilter = AlertFilter(
    "ztf.blazar_high_state", "CTAO blazars in a high flux state",
    Seq("blazar_stats"), mask = _ => {
    val bs = col("blazar_stats")
    bs.getItem("instantness_high") > 1 && bs.getItem("robustness_high") > 1
  })

  /** Blazar low state — `filter_blazar_low_state/filter.py:124-126`. */
  val blazarLowState: AlertFilter = AlertFilter(
    "ztf.blazar_low_state", "CTAO blazars in a low flux state",
    Seq("blazar_stats"), mask = _ => {
    val bs = col("blazar_stats")
    val il = bs.getItem("instantness_low")
    val rl = bs.getItem("robustness_low")
    il >= 0 && il < 1 && rl >= 0 && rl < 1
  })

  /** Superluminous SN score vs per-row threshold —
    * `filter_superluminous/filter.py:47`.
    */
  val superluminous: AlertFilter = AlertFilter(
    "ztf.superluminous", "Superluminous SN candidates",
    Seq("slsn_score", "threshold"),
    mask = _ => col("slsn_score") >= col("threshold"))

  /** VAST radio-survey supernovae —
    * `filter_vast_supernovae/filter.py:50-53` (lum_dist comes from the
    * `mangrove` map, dec from the candidate).
    */
  val vastSupernovae: AlertFilter = AlertFilter(
    "ztf.vast_supernovae", "Southern SNe within 200 Mpc (TNS-confirmed)",
    Seq("mangrove", "candidate.dec", "tns"), mask = _ => {
    val lum = mangroveLumDist
    lum < 200 && cand("dec") < -10 && !col("tns").isin("", "Unknown")
  })

  /** `mangrove` is a map<string,string> whose values may hold Python
    * "None"/"nan" sentinels — try_cast (ANSI-safe) reproduces the
    * reference's NaN-propagating float coercion.
    */
  private def mangroveLumDist: Column =
    expr("try_cast(mangrove['lum_dist'] AS DOUBLE)")

  /** VAST SN candidates — `filter_vast_supernovae_candidates/filter.py:50-53`. */
  val vastSupernovaeCandidates: AlertFilter = AlertFilter(
    "ztf.vast_supernovae_candidates", "Southern SN candidates within 200 Mpc",
    Seq("mangrove", "candidate.dec", "snn_sn_vs_all"), mask = _ =>
      mangroveLumDist < 200 && cand("dec") < -10 && col("snn_sn_vs_all") > 0.5)

  /** 8-flag transient-complete conjunction —
    * `filter_transient_complete/filter.py:81-118` (flat boolean columns in
    * the SLSN sample fixture).
    */
  val transientComplete: AlertFilter = AlertFilter(
    "ztf.transient_complete", "Complete transient sample (8 quality flags)",
    Seq("faint", "positivesubtraction", "real", "pointunderneath",
      "brightstar", "variablesource", "stationary", "roid"),
    mask = _ =>
      col("faint") === false && col("positivesubtraction") === true &&
        col("real") === true && col("pointunderneath") === false &&
        col("brightstar") === false && col("variablesource") === false &&
        col("stationary") === true && col("roid") === 0)

  val all: Seq[AlertFilter] = Seq(
    qualityCuts, snCandidates, earlySnCandidates, knCandidates,
    ssoZtfCandidates, ssoFinkCandidates, microlensingCandidates, blazar,
    simbadGravCandidates, tnsMatch, vra, ysoCandidates, rrlyr,
    simbadCandidates, gaiaDr3Candidates, trackletCandidates, snlike,
    exampleFilter, blazarHighState, blazarLowState, superluminous,
    vastSupernovae, vastSupernovaeCandidates, transientComplete)
}
