package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.classify.Classify
import graft.filters.rubin.RubinBlocks
import graft.filters.ztf.ZtfFilters

/** Reference-filter golden queries, oracle-gated over the REAL ZTF
  * alert fixture (`datatest/regular` under [[graft.Fixtures]]) —
  * the q79 pattern applied to the filter catalog: the DuckDB mirror in
  * [[graft.OracleSql]] re-expresses the same predicate cascade in SQL
  * over the same parquet, so the gate certifies the filter semantics
  * against an independent engine, not just against the golden counts
  * the spec suite pins.
  *
  * These queries deliberately IGNORE the scale-factor dir argument:
  * the subject under test is the reference predicate semantics on the
  * reference's own data, which does not scale with SF.
  */
object GoldenQueries {

  /** Single source of truth for the reference ZTF fixture location —
    * OracleSql's DuckDB mirror and the test harness derive from this,
    * so the Spark query and its oracle can never read different data.
    */
  val FixtureDir = s"${graft.Fixtures.Root}/datatest/regular"

  private def fixture(spark: SparkSession): DataFrame =
    spark.read.parquet(graft.Fixtures.checked(FixtureDir))

  /** q80 — the sn_candidates livestream filter
    * (`livestream/filter_sn_candidates/filter.py:86-104`): SuperNNova
    * scores + extragalactic host + freshness + quality cuts. Output is
    * the surviving (objectId, jd) pairs under a total order.
    */
  def q80SnCandidates(spark: SparkSession, dir: String): DataFrame = {
    val df = fixture(spark)
    df.filter(ZtfFilters.snCandidates.mask(df))
      .select(col("objectId").as("object_id"),
        col("candidate.jd").cast("double").as("jd"))
      .orderBy("object_id", "jd")
  }

  /** q81 — the full classification cascade histogram
    * (`classification.py:139-210` via [[Classify.classHistogram]]):
    * nine priority-ordered labels + Ambiguous + the SIMBAD override,
    * exercising seven catalog filters in one gate query.
    */
  def q81ClassHistogram(spark: SparkSession, dir: String): DataFrame =
    Classify.classHistogram(fixture(spark))
      .select(col("class"), col("count").as("n"))
      .orderBy(desc("n"), asc("class"))

  /** q82 — the distributed nonlinear Rainbow light-curve fit (G6,
    * `filter_early_tde_candidates/lcs.py:268-326` re-expressed as the
    * [[graft.expressions.RainbowFit]] Levenberg-Marquardt kernel) over
    * every fixture alert: physical converged fits with 6-decimal
    * parameter rounding under a total order. No DuckDB oracle exists
    * for an iterative nonlinear optimizer, so this rides the driver's
    * rows-only check; parameter VALUES are pinned by RainbowFitSpec
    * (recovery on synthetic curves + optimality vs an independent
    * Nelder-Mead on the same χ²).
    */
  def q82RainbowFit(spark: SparkSession, dir: String): DataFrame =
    graft.filters.ztf.EarlyTdeScorer.withRainbowFit(fixture(spark))
      .select(col("objectId").as("object_id"),
        col("candidate.jd").cast("double").as("jd"),
        col("rainbow_fit.*"))
      .filter(col("converged") && col("rise_time").between(0.5, 100) &&
        col("temperature").between(2000, 50000))
      .select(col("object_id"), col("jd"),
        round(col("t0"), 6).as("t0"),
        round(col("amplitude"), 9).as("amplitude"),
        round(col("rise_time"), 6).as("rise_time"),
        round(col("temperature"), 3).as("temperature"),
        round(col("chi2"), 6).as("chi2"), col("n"))
      .orderBy("object_id", "jd")

  /** q99 — the A6 per-band latest-prior RATE rules of
    * `filter_extragalactic_new_candidate/filter.py:141-191`, lifted as
    * a flag vector over the Rubin fixture (the last golden-pinned-only
    * Rubin block): latest previous same-band detection via the
    * struct-sorted history array ([[RubinBlocks.latestPrevSameBand]]),
    * the magnitude rate against it, the rising (rate < −0.2 within
    * 3 d) and band-dependent fading cuts (r/i > 0.2, g/u > 0.5), and
    * the registered filter's full conjunction — so the oracle
    * certifies the rate arithmetic AND the composite row-by-row.
    */
  def q99RubinRateCuts(spark: SparkSession, dir: String): DataFrame = {
    def dsc(f: String) = col(s"diaSource.$f")
    val df = rubinFixture(spark)
    val prev = RubinBlocks.latestPrevSameBand
    val mag = RubinBlocks.apparentMag
    val prevMag = graft.astro.Astro.fluxNJyToMag(prev.getField("flux"))
    val rate = (mag - prevMag) / (dsc("midpointMjdTai") - prev.getField("t"))
    val dtRising =
      dsc("midpointMjdTai") - col("misc.firstDiaSourceMjdTaiFink")
    val fRising = rate < -0.2 && dtRising < 3
    val fFadingRi = dsc("band").isin("r", "i") && rate > 0.2
    val fFadingGu = dsc("band").isin("g", "u") && rate > 0.5
    df.select(
      col("diaSourceId").as("source_id"),
      round(prev.getField("t").cast("double"), 6).as("prev_t"),
      round(rate, 6).as("rate"),
      coalesce(dtRising < 5.0, lit(false)).cast("int").as("f_new"),
      coalesce(mag < 24, lit(false)).cast("int").as("f_bright"),
      coalesce(fRising, lit(false)).cast("int").as("f_rising_rate"),
      coalesce(fFadingRi, lit(false)).cast("int").as("f_fading_ri"),
      coalesce(fFadingGu, lit(false)).cast("int").as("f_fading_gu"),
      coalesce(fRising || fFadingRi || fFadingGu, lit(false)).cast("int")
        .as("f_rate"),
      coalesce(graft.filters.rubin.RubinFilters
        .extragalacticNewCandidate.mask(df), lit(false)).cast("int")
        .as("f_extragalactic_new"))
      .orderBy("source_id")
  }

  /** q100 — the CENSORED Rainbow fit: identical to [[q82RainbowFit]]
    * but the history enters through `fluxHistoryWithLimitsCol`, so 5σ
    * non-detections participate as censored points under the one-sided
    * hinge (`EarlyTdeScorer.withRainbowFit(useUpperLimits = true)` —
    * the path the round-9 gate never exercised). Rides the same
    * rows-only contract as q82 (iterative LM optimizer); the hinge
    * algebra itself is pinned by RainbowFitSpec, and q82 stays
    * detections-only bit-identical.
    */
  def q100RainbowCensored(spark: SparkSession, dir: String): DataFrame =
    graft.filters.ztf.EarlyTdeScorer
      .withRainbowFit(fixture(spark), useUpperLimits = true)
      .select(col("objectId").as("object_id"),
        col("candidate.jd").cast("double").as("jd"),
        col("rainbow_fit.*"))
      .filter(col("converged") && col("rise_time").between(0.5, 100) &&
        col("temperature").between(2000, 50000))
      .select(col("object_id"), col("jd"),
        round(col("t0"), 6).as("t0"),
        round(col("amplitude"), 9).as("amplitude"),
        round(col("rise_time"), 6).as("rise_time"),
        round(col("temperature"), 3).as("temperature"),
        round(col("chi2"), 6).as("chi2"), col("n"))
      .orderBy("object_id", "jd")

  /** Rubin/LSST fixture (27 alerts) — same single-source-of-truth rule
    * as [[FixtureDir]]: the DuckDB mirrors read this exact path.
    */
  val RubinFixtureDir =
    s"${graft.Fixtures.Root}/datatest/rubin_test_data_10_0.parquet"

  private def rubinFixture(spark: SparkSession): DataFrame =
    spark.read.parquet(graft.Fixtures.checked(RubinFixtureDir))

  /** q83 — the Rubin quality/cross-match block vector
    * (`rubin/blocks.py:342-418` + the xmatch blocks at `blocks.py:
    * 106-235`): one row per fixture alert with every reusable boolean
    * block evaluated, so the oracle certifies EACH block's null/flag
    * semantics row-by-row (a stronger gate than a filter whose
    * surviving set is small). Flags are cast to int for a
    * representation-neutral hash.
    */
  def q83RubinBlocks(spark: SparkSession, dir: String): DataFrame =
    rubinFixture(spark).select(
      col("diaSourceId").as("source_id"),
      coalesce(RubinBlocks.isNew, lit(false)).cast("int").as("f_new"),
      RubinBlocks.goodQuality.cast("int").as("f_good_quality"),
      RubinBlocks.isSolarSystem.cast("int").as("f_sso"),
      RubinBlocks.xmatchedSimbadGalaxy.cast("int").as("f_simbad_galaxy"),
      RubinBlocks.xmatchedSimbadUnknown.cast("int").as("f_simbad_unknown"),
      RubinBlocks.xmatchedGaiaStar.cast("int").as("f_gaia_star"),
      RubinBlocks.xmatchedMangrove.cast("int").as("f_mangrove"),
      RubinBlocks.xmatchedVsxStar.cast("int").as("f_vsx_star"))
      .orderBy("source_id")

  /** q84 — the most_likely_sn decomposition
    * (`rubin/livestream/filter_most_likely_sn/filter.py:69-85`,
    * including the reference's `~f_good_quality` double-negation quirk
    * reproduced AS-IS) plus the DESC remove_unlikely_transients cut
    * (`filter_remove_unlikely_transients/filter.py:59-70`): component
    * flags AND both final masks per alert. The final most_likely_sn
    * count on this fixture is 0 (the reference doctest pins exactly
    * that), so gating the components row-by-row is what actually
    * certifies the semantics.
    */
  def q84RubinMostLikelySn(spark: SparkSession, dir: String): DataFrame = {
    val ds = (f: String) => col(s"diaSource.$f")
    val fGqNotNeg = RubinBlocks.goodQuality &&
      !coalesce(ds("isNegative").cast("boolean"), lit(false))
    val fSnr = coalesce(ds("snr") > 10, lit(false))
    val fNsources = coalesce(col("diaObject.nDiaSources") >= 2, lit(false))
    val fSnn = coalesce(col("clf.snnSnVsOthers_score") >= 0.7, lit(false))
    val fCats = coalesce(col("clf.cats_class") === 11 &&
      col("clf.cats_score") >= 0.9, lit(false))
    val common = !RubinBlocks.isSolarSystem && fSnr && !fGqNotNeg && fNsources
    rubinFixture(spark).select(
      col("diaSourceId").as("source_id"),
      fSnr.cast("int").as("f_snr"),
      fNsources.cast("int").as("f_nsources"),
      fGqNotNeg.cast("int").as("f_gq_not_neg"),
      fSnn.cast("int").as("f_snn_sn"),
      fCats.cast("int").as("f_cats_sn"),
      (fSnn && fCats && common).cast("int").as("f_most_likely_sn"),
      common.cast("int").as("f_keep_transient"))
      .orderBy("source_id")
  }

  /** q88 — the Rubin extragalactic cascade (`blocks.py:421-531`) and
    * the per-band dynamic-column blocks (A6-A8/G4, `rubin/utils.py:
    * 49-112` + `blocks.py:262-339`) as a flag vector, plus the
    * galactic latitude itself (round-6) so the ICRS→galactic trig is
    * gated numerically, not just through the 20° threshold.
    */
  def q88RubinExtragalactic(spark: SparkSession, dir: String): DataFrame =
    rubinFixture(spark).select(
      col("diaSourceId").as("source_id"),
      round(graft.astro.Astro.galacticLatDeg(
        col("diaSource.ra").cast("double"),
        col("diaSource.dec").cast("double")), 6).as("b_gal"),
      coalesce(RubinBlocks.outsideGalacticPlane(20), lit(false))
        .cast("int").as("f_outside_plane"),
      (coalesce(col("xm.legacydr8_zphot") > 0, lit(false)) &&
        (RubinBlocks.xmatchedSimbadUnknown ||
          RubinBlocks.xmatchedSimbadGalaxy))
        .cast("int").as("f_legacy_valid"),
      (!RubinBlocks.xmatchedGaiaStar && !RubinBlocks.xmatchedVsxStar)
        .cast("int").as("f_not_star"),
      RubinBlocks.extragalacticLoose.cast("int").as("f_eg_loose"),
      RubinBlocks.extragalacticNearGalaxy.cast("int")
        .as("f_eg_near_galaxy"),
      RubinBlocks.isRising.cast("int").as("f_rising"),
      RubinBlocks.isFading.cast("int").as("f_fading"),
      RubinBlocks.hasTwoPointsSameBand.cast("int").as("f_two_same_band"))
      .orderBy("source_id")

  /** The 18 predicate-only ZTF catalog filters q89 certifies — the
    * single source of truth: the Spark side applies each by registry
    * name, the DuckDB mirror is generated from this list (class lists
    * from the shared [[graft.filters.ztf.SimbadClasses]] constants).
    * History/xmatch-backed filters stay with their golden suites; this
    * set is every catalog filter whose columns exist in ALL fixture
    * part files (the fixture's parts have two schemas — blazar_stats
    * and the anomaly columns exist only in some, and a column absent
    * from one part fails both engines' scans).
    */
  val ZtfSurvivorFilters: Seq[String] = Seq(
    "ztf.livestream.early_sn_candidates", "ztf.livestream.kn_candidates",
    "ztf.livestream.sso_ztf_candidates",
    "ztf.livestream.sso_fink_candidates",
    "ztf.livestream.microlensing_candidates", "ztf.livestream.blazar",
    "ztf.livestream.simbad_grav_candidates", "ztf.livestream.tns_match",
    "ztf.livestream.vra", "ztf.livestream.yso_candidates",
    "ztf.rrlyr", "ztf.simbad_candidates", "ztf.gaia_dr3_candidates",
    "ztf.tracklet_candidates", "ztf.snlike", "ztf.example_filter",
    "ztf.vast_supernovae", "ztf.vast_supernovae_candidates")

  /** q89 — the predicate catalog survivors table: one row per (filter,
    * surviving alert) across [[ZtfSurvivorFilters]], certifying
    * EIGHTEEN filters' exact semantics (class lists, the string-"nan"
    * Gaia sentinel, the TRCK_ prefix with its SQL-wildcard trap, the
    * mangrove map's Python "None" sentinels through try_cast, null
    * propagation everywhere) against the DuckDB mirror in one gate.
    */
  def q89ZtfFilterSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val df = fixture(spark)
    ZtfSurvivorFilters.map { n =>
      df.filter(graft.filters.FilterRegistry.get(n).mask(df))
        .select(lit(n).as("filter"), col("objectId").as("object_id"),
          col("candidate.jd").cast("double").as("jd"))
    }.reduce(_ unionByName _).orderBy("filter", "object_id", "jd")
  }
}
