package graft.filters.rubin

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.filters.AlertFilter
import RubinBlocks._

/** Rubin/LSST livestream filter catalog (SURVEY §2.5 Rubin table) — each
  * filter composes [[RubinBlocks]] into one boolean mask, exactly as the
  * reference's `fink_filters/rubin/livestream/&#42;/filter.py` compose
  * `blocks.py`. All pure Catalyst expressions.
  */
object RubinFilters {

  private def ds(f: String): Column = col(s"diaSource.$f")

  /** diaSourceId % 113 == 0 — deterministic 1% sample,
    * `filter_uniform_sample/filter.py:23-50`.
    */
  val uniformSample: AlertFilter = AlertFilter(
    "rubin.livestream.uniform_sample",
    "Select 1% of all live alerts in a uniformly random way",
    Seq("diaSourceId"), archiveSupport = false,
    mask = _ => pmod(col("diaSourceId"), lit(113L)) === 0)

  /** TNS counterpart known at emission time —
    * `filter_in_tns/filter.py:49` (`tns_fullname is not None`). The test
    * fixture predates the `xm.tns_fullname` field, so the mask degrades
    * to constant-false when the field is absent; it declares `xm` alone,
    * so the pre-flight accepts exactly the schemas the mask handles.
    */
  val inTns: AlertFilter = AlertFilter(
    "rubin.livestream.in_tns",
    "Alerts with a known counterpart in TNS at emission time",
    Seq("xm"), mask = df =>
      if (xmHasField(df, "tns_fullname")) col("xm.tns_fullname").isNotNull
      else lit(false))

  /** ELEPHANT hostless + quality + plane + brightness —
    * `filter_hostless_candidate/filter.py:57-65`.
    */
  val hostlessCandidate: AlertFilter = AlertFilter(
    "rubin.livestream.hostless_candidate",
    "Hostless candidates according to ELEPHANT (arXiv:2404.18165)",
    Seq("diaSource", "clf.elephant_kstest_template"),
    mask = _ =>
      goodQuality && col("clf.elephant_kstest_template") < 0.95 &&
        outsideGalacticPlane(20) && apparentMag <= 21.5)

  /** SuperNNova + CATS likely-SN — `filter_most_likely_sn/filter.py:69-85`.
    * NOTE the reference's `~f_good_quality` (double negation quirk) is
    * reproduced AS-IS (SURVEY §7.4.4).
    */
  val mostLikelySn: AlertFilter = AlertFilter(
    "rubin.livestream.most_likely_sn",
    "Alerts likely to be SN (SuperNNova + CATS classifiers)",
    Seq("clf", "diaSource", "diaObject.nDiaSources", "pred.is_sso"),
    mask = _ => {
    val fGqNotNeg = goodQuality &&
      !coalesce(ds("isNegative").cast("boolean"), lit(false))
    col("clf.snnSnVsOthers_score") >= 0.7 &&
      col("clf.cats_class") === 11 && col("clf.cats_score") >= 0.9 &&
      !isSolarSystem && ds("snr") > 10 &&
      !fGqNotNeg && col("diaObject.nDiaSources") >= 2
  })

  /** DESC transient pre-cut — `filter_remove_unlikely_transients/
    * filter.py:59-70` (same `~f_good_quality` quirk).
    */
  val removeUnlikelyTransients: AlertFilter = AlertFilter(
    "rubin.livestream.remove_unlikely_transients",
    "Filters out alerts unlikely to be transients of interest (DESC)",
    Seq("diaSource", "diaObject.nDiaSources", "pred.is_sso"),
    archiveSupport = false, mask = _ => {
    val fGqNotNeg = goodQuality &&
      !coalesce(ds("isNegative").cast("boolean"), lit(false))
    !isSolarSystem && ds("snr") > 10 && !fGqNotNeg &&
      col("diaObject.nDiaSources") >= 2
  })

  /** Loose extragalactic ∧ mag<20 ∧ rising ∧ sampled —
    * `filter_extragalactic_lt20mag_candidate/filter.py:86-104`.
    */
  val extragalacticLt20Mag: AlertFilter = AlertFilter(
    "rubin.livestream.extragalactic_lt20mag_candidate",
    "Rising, bright (mag < 20) extragalactic candidates",
    Seq("diaSource", "diaObject", "xm", "pred.is_sso",
      "misc.firstDiaSourceMjdTaiFink"),
    mask = _ =>
      extragalacticLoose && apparentMag < 20 && isRising &&
        col("diaObject.nDiaSources") > 4 &&
        (ds("midpointMjdTai") - col("misc.firstDiaSourceMjdTaiFink")) > 1)

  /** Near-galaxy extragalactic ∧ new (<5 d) ∧ mag<24 —
    * `filter_extragalactic_svom/filter.py:89-108`.
    */
  val extragalacticSvom: AlertFilter = AlertFilter(
    "rubin.livestream.extragalactic_svom",
    "New (<5 d), bright (mag < 24), potentially extragalactic alerts",
    Seq("diaSource", "diaObject", "xm", "pred.is_sso",
      "misc.firstDiaSourceMjdTaiFink"), archiveSupport = false,
    mask = _ =>
      extragalacticNearGalaxy &&
        (ds("midpointMjdTai") - col("misc.firstDiaSourceMjdTaiFink")) < 5.0 &&
        apparentMag < 24)

  /** Near-galaxy ∧ new ∧ bright ∧ ≥2 same-band points ∧ rate cuts —
    * `filter_extragalactic_new_candidate/filter.py:141-191`.
    */
  val extragalacticNewCandidate: AlertFilter = AlertFilter(
    "rubin.livestream.extragalactic_new_candidate",
    "New (<5 d), bright (mag < 24) extragalactic with rate cuts",
    Seq("diaSource", "diaObject", "prvDiaSources", "xm", "pred.is_sso",
      "misc.firstDiaSourceMjdTaiFink"), mask = _ => {
    val fNew =
      (ds("midpointMjdTai") - col("misc.firstDiaSourceMjdTaiFink")) < 5.0
    val prev = latestPrevSameBand
    val deltaMag = apparentMag -
      graft.astro.Astro.fluxNJyToMag(prev.getField("flux"))
    val deltaTime = ds("midpointMjdTai") - prev.getField("t")
    val rate = deltaMag / deltaTime
    val dtRising = ds("midpointMjdTai") - col("misc.firstDiaSourceMjdTaiFink")
    val fRate = (rate < -0.2 && dtRising < 3) ||
      (ds("band").isin("r", "i") && rate > 0.2) ||
      (ds("band").isin("g", "u") && rate > 0.5)
    extragalacticNearGalaxy && fNew && hasTwoPointsSameBand &&
      apparentMag < 24 && fRate
  })

  /** Near-galaxy ∧ sampled ∧ SN-like peak absolute magnitude —
    * `filter_sn_near_galaxy_candidate/filter.py:84-106`.
    */
  val snNearGalaxyCandidate: AlertFilter = AlertFilter(
    "rubin.livestream.sn_near_galaxy_candidate",
    "Catalog-matched galaxy neighbours with SN-consistent peak M",
    Seq("diaSource", "diaObject", "xm", "pred.is_sso"), mask = _ => {
    val mAbs = peakAbsoluteMagnitude
    extragalacticNearGalaxy && col("diaObject.nDiaSources") > 5 &&
      mAbs > -23 && mAbs < -13
  })

  /** Early SN Ia (attic) — score and flux-amplitude cuts,
    * `rubin/attic/filter_early_snia_candidate/filter.py:25-59`.
    * Null propagation mirrors the numpy NaN behavior: a missing min-flux
    * keeps NaN through the clamp (np.max([10, nan]) is nan) while a
    * missing max-flux becomes the 1e-10 floor.
    */
  val earlySnia: AlertFilter = AlertFilter(
    "rubin.attic.early_snia_candidate",
    "Early SN Ia candidates (score + flux amplitude)",
    Seq("clf.earlySNIa_score", "diaObject"), mask = _ => {
    val minFlux = least(Bands.map(b => col(s"diaObject.${b}_psfFluxMin")): _*)
    val maxFlux = greatest(Bands.map(b => col(s"diaObject.${b}_psfFluxMax")): _*)
    val fMin = when(minFlux.isNotNull, greatest(lit(10.0), minFlux))
    val fMax = when(maxFlux > 0, maxFlux).otherwise(lit(1e-10))
    val ratioOk = log10(fMax / fMin) > 0.5
    val score = col("clf.earlySNIa_score")
    score > 0.76 || (score > 0.5 && ratioOk)
  })

  val all: Seq[AlertFilter] = Seq(
    uniformSample, inTns, hostlessCandidate, mostLikelySn,
    removeUnlikelyTransients, extragalacticLt20Mag, extragalacticSvom,
    extragalacticNewCandidate, snNearGalaxyCandidate, earlySnia)
}
