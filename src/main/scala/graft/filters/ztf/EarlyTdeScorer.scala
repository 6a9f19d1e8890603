package graft.filters.ztf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.HistoryFits
import graft.filters.AlertFilter

/** Stage 2 of the early-TDE pipeline (SURVEY §3.3) as a DISTRIBUTED
  * closed-form scorer.
  *
  * The reference's stage 2 (`filter_early_tde_candidates/filter.py:
  * 42-226`) runs per candidate on the driver: fetch the full light
  * curve over HTTP, fit the nonlinear Rainbow model (sigmoid rise ×
  * blackbody SED, `lcs.py:269-330`), Monte-Carlo-sample the fit
  * covariance 1000×, and score with two packaged XGBoost binaries.
  * None of that transfers to a self-contained engine: the photometry
  * service and the model binaries are external artifacts. What DOES
  * transfer is the pipeline's shape and its feature semantics — and
  * both have closed forms over the in-alert history:
  *
  *  - per-band σ-weighted LINEAR flux fit, centered on the alert epoch
  *    jd_max: level a = f̂(jd_max) ± σa, rate m = df/dt ± σm, χ² — the
  *    one closed-form fit of [[graft.expressions.HistoryFits]] (the
  *    linear sibling of Rainbow's sigmoid rise; same SNANA flux domain
  *    as the prefilter);
  *  - `snr_rise_time` → rate significance m/σm per band (the fit
  *    covariance the reference samples is available analytically);
  *  - `temperature` → Wien-approximation color temperature from the
  *    fitted band levels: F_g/F_r = (λr/λg)⁵ · exp(−(hc/k)(1/λg−1/λr)/T)
  *    ⇒ T = (hc/k)(1/λg − 1/λr) / ln[(λr/λg)⁵ / (F_g/F_r)] (the ratio's
  *    T→∞ limit is (λr/λg)⁵ ≈ 3.8; bluer ratios are super-Wien → null),
  *    with the reference's band wavelengths (`lcs.py:47`: g 4770 Å,
  *    r 6231 Å);
  *    `snr_temperature` by first-order error propagation through the
  *    log-ratio;
  *  - `r_chisq` → pooled reduced χ² of the two linear fits;
  *  - `reference_time` → the fitted zero-flux crossing; its propagated
  *    error mirrors the reference's `e_reference_time` cut.
  *
  * Quality cuts mirror `filter.py:184-196`: r_chisq ≤ 10,
  * e_reference_time ≤ 100 d, snr_rise_time ≥ 1.5, snr_temperature
  * ≥ 1.5, plus rising levels in both bands (m > 0 — the linear-model
  * reading of "rise_time > 0").
  *
  * The classifier stage is a pluggable [[TdeScorer]]; the default is a
  * TRANSPARENT logistic model over the same feature vector (documented
  * weights below — a deterministic stand-in for the unshippable XGBoost
  * pair, chosen to prefer hot, significantly-rising, well-fit
  * transients). Everything is Column algebra: at 100 TB this is one
  * map stage over the prefilter survivors — no HTTP, no driver loop,
  * no UDF.
  */
object EarlyTdeScorer {

  /** hc/k in Å·K. */
  private val HcOverK = 1.43877688e8
  /** ZTF effective wavelengths used by the reference, Å (lcs.py:47). */
  private val LambdaG = 4770.0
  private val LambdaR = 6231.0
  /** Wien constants: T = WienC / ln(WienLimit / ratio), with WienLimit
    * the hot-limit flux ratio (λr/λg)⁵.
    */
  private val WienC = HcOverK * (1.0 / LambdaG - 1.0 / LambdaR)
  private val WienLimit = math.pow(LambdaR / LambdaG, 5.0)

  /** One band's σ-weighted linear flux fit, [[HistoryFits.weightedSlope]]
    * over (x = jd − jdMax, y = flux, e) of its ok points: centring makes
    * the intercept the level a ± sa at jdMax; the slope is the rate
    * m ± sm per day.
    */
  private def bandFit(pts: Column, jdMax: Column, band: Int): Column =
    HistoryFits.weightedSlope(transform(
      filter(pts, p => p.getField("ok") && p.getField("fid") === band),
      p => struct((p.getField("jd") - jdMax).as("jd"), p.getField("f").as("y"),
        p.getField("e").as("e"))))

  /** Feature struct from the two MATERIALIZED per-band fit columns
    * (attribute references only — cheap under CollapseProject). Fields
    * mirror the reference's feature names where the closed form carries
    * the same meaning.
    */
  /** a/b, NULL when b is 0 or either side null — Spark 4 runs ANSI
    * mode, where even double division by zero THROWS; a zero rate or
    * level must instead null the derived feature (qualityCuts then
    * rejects the row, matching the reference's failed-fit `continue`).
    */
  private def sdiv(a: Column, b: Column): Column =
    when(b =!= 0.0, a / b)

  /** S12 dereddening folded into the ONLY feature it can affect: the
    * per-band WLS is linear, so multiplying band b's fluxes by a
    * constant c_b scales (a, sa, m, sm) by c_b and leaves χ², every
    * SNR, and −a/m invariant. The g/r level ratio — hence the Wien
    * temperature — is therefore the single dereddening-sensitive
    * feature, and the correction is exact as a ratio multiplier:
    * ratio_dered = ratio · 10^(0.4·E(B−V)·(A_g − A_r))
    * (reference applies the same per-point division in
    * `lcs.py:117-127` before its Rainbow fit).
    */
  private def featuresFromFits(g: Column, r: Column, ebv: Column): Column = {
    def f(c: Column, n: String) = c.getField(n)
    val deredden = pow(lit(10.0), lit(0.4) * ebv *
      lit(graft.astro.Dereddening.AvZtf(1) - graft.astro.Dereddening.AvZtf(2)))
    val ratio = sdiv(f(g, "level"), f(r, "level")) * deredden
    val lnr = when(ratio > 0, log(lit(WienLimit) / ratio))
    val temperature = sdiv(lit(WienC), lnr)
    // σ_T = T²/WienC · σ_lnRatio, σ_lnRatio² = (σa_g/a_g)² + (σa_r/a_r)²
    val sLnRatio = sqrt(
      pow(sdiv(f(g, "level_err"), f(g, "level")), 2) +
        pow(sdiv(f(r, "level_err"), f(r, "level")), 2))
    val snrT = abs(sdiv(lit(WienC), temperature * sLnRatio))
    // rate significance: the weaker band bounds the claim
    val snrRise = least(abs(sdiv(f(g, "slope"), f(g, "serr"))),
      abs(sdiv(f(r, "slope"), f(r, "serr"))))
    val dof = (f(g, "n") + f(r, "n") - lit(4)).cast("double")
    // a band without a fit adds 0 to the pooled χ²
    def chi2(c: Column) = coalesce(f(c, "chi2"), lit(0.0))
    val rChisq = sdiv(chi2(g) + chi2(r), dof)
    // zero-crossing t0 − jdMax = −a/m (flux-weighted mean over bands
    // would hide a band disagreement; take the better-measured band)
    val useG = sdiv(f(g, "serr"), abs(f(g, "slope"))) <=
      sdiv(f(r, "serr"), abs(f(r, "slope")))
    val aBest = when(useG, f(g, "level")).otherwise(f(r, "level"))
    val saBest = when(useG, f(g, "level_err")).otherwise(f(r, "level_err"))
    val mBest = when(useG, f(g, "slope")).otherwise(f(r, "slope"))
    val smBest = when(useG, f(g, "serr")).otherwise(f(r, "serr"))
    val relRef = sdiv(-aBest, mBest)
    val eRef = abs(relRef) * sqrt(
      pow(sdiv(saBest, aBest), 2) + pow(sdiv(smBest, mBest), 2))
    struct(
      f(g, "n").as("n_g"), f(r, "n").as("n_r"),
      f(g, "slope").as("rate_g"), f(r, "slope").as("rate_r"),
      snrRise.as("snr_rise_time"),
      temperature.as("temperature"), snrT.as("snr_temperature"),
      rChisq.as("r_chisq"),
      relRef.as("rel_reference_time"), eRef.as("e_reference_time"))
  }

  /** Adds `tde_features` to the frame. Intermediates (flux history,
    * per-band fits) are materialized as columns so each fit runs
    * exactly once per row. `deredden = true`
    * applies the S12 correction (see featuresFromFits): if the frame
    * already carries an `ebv` column — e.g. from an upstream
    * [[graft.astro.Dereddening.EbvTable]] enrichment stage (the real
    * dust-map seam) — that value is used; otherwise the coarse
    * cosecant model computes it inline. Pass false for raw-flux
    * features (the synthetic-fit specs pin the uncorrected algebra).
    */
  def withFeatures(df: DataFrame, deredden: Boolean = false): DataFrame = {
    val jdMax = col("candidate.jd").cast("double")
    val ebv =
      if (!deredden) lit(0.0)
      else if (df.columns.contains("ebv")) col("ebv").cast("double")
      else graft.astro.Dereddening.ebvCosecant(
        col("candidate.ra").cast("double"), col("candidate.dec").cast("double"))
    df
      .withColumn("__tde_pts", ZtfPhotometryFilters.fluxHistoryCol)
      .withColumn("__tde_g", bandFit(col("__tde_pts"), jdMax, 1))
      .withColumn("__tde_r", bandFit(col("__tde_pts"), jdMax, 2))
      .withColumn("tde_features",
        featuresFromFits(col("__tde_g"), col("__tde_r"), ebv))
      .drop("__tde_pts", "__tde_g", "__tde_r")
  }

  /** Adds the NONLINEAR `rainbow_fit` struct — the distributed
    * Levenberg–Marquardt fit of the reference's Rainbow model
    * (sigmoid bolometric rise × constant-T blackbody,
    * `filter_early_tde_candidates/lcs.py:268-326`) over the same
    * in-row history the closed-form features use, WLS-seeded inside
    * the kernel (see [[graft.expressions.RainbowFit]]). Opt-in: the
    * default pipeline keeps the closed-form features (whose golden
    * regression is pinned), and a trained scorer can consume both.
    */
  def withRainbowFit(df: DataFrame,
      useUpperLimits: Boolean = false): DataFrame =
    df.withColumn("rainbow_fit", graft.expressions.RainbowFit.rainbowFit(
      if (useUpperLimits) ZtfPhotometryFilters.fluxHistoryWithLimitsCol
      else ZtfPhotometryFilters.fluxHistoryCol,
      col("candidate.jd").cast("double")))

  /** The reference's feature-quality cuts (`filter.py:184-196`) read on
    * the closed-form features, plus both-band rising rates.
    */
  def qualityCuts(feat: Column): Column = {
    def q(n: String) = feat.getField(n)
    q("n_g") >= 2 && q("n_r") >= 2 &&
      q("rate_g") > 0 && q("rate_r") > 0 &&
      q("temperature") > 0 &&
      q("r_chisq") <= 10 &&
      q("e_reference_time") <= 100 &&
      q("snr_rise_time") >= 1.5 &&
      q("snr_temperature") >= 1.5
  }

  /** Pluggable classifier over the feature struct — the seam where a
    * real trained model (the reference ships two XGBoost binaries)
    * plugs in at deployment.
    */
  trait TdeScorer {
    def score(feat: Column): Column
  }

  /** Transparent default: logistic score preferring hot,
    * significantly-rising, well-fit candidates. Weights are documented
    * constants, NOT a trained artifact — a deterministic stand-in with
    * the same signature and output range as the reference's
    * `best_score`/`frac_scores` stage, centered so the curated tde
    * fixture's candidates (T ≈ 5.5 kK color temperature, rise SNR ≈ 6)
    * clear the 0.5 threshold while cold / marginal / poorly-fit
    * survivors stay below it.
    */
  object LogisticTdeScorer extends TdeScorer {
    def score(feat: Column): Column = {
      def q(n: String) = feat.getField(n)
      val z =
        lit(-1.2) +
          lit(1.0) * (log(q("temperature")) - math.log(3000.0)) +
          lit(0.5) * log(q("snr_rise_time")) -
          lit(0.3) * q("r_chisq")
      round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
    }
  }

  /** OPTIMIZER BARRIER after the fit stage: pushing downstream
    * predicates through the feature projects substitutes the whole
    * fit tree once per referenced field — the plan balloons to a
    * multi-MB codegen unit (observed OOM). A `LogicalRDD` leaf over the
    * fit stage's internal rows pins the boundary (lazy, no storage);
    * downstream consumers (quality cuts, compiled tree scorers) see
    * plain attribute references. It replaces a `createDataFrame(df.rdd,
    * schema)` round-trip, whose external-`Row` serializer and
    * deserializer over the full alert schema generated ~0.5M characters
    * of code per task.
    */
  def featuresBarrier(featured: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.PlanBridge.barrier(featured)

  /** The full stage-1 + stage-2 pipeline: prefilter survivors →
    * closed-form features → quality cuts → classifier threshold.
    * Output: one row per candidate with the feature struct and score.
    * The barrier between the fit and cut stages mirrors the
    * reference's own stage split, where prefilter survivors leave
    * Spark for the driver loop (`filter.py:305-360`) — here they stay
    * distributed, but the planner treats the stages independently.
    */
  def earlyTdeCandidates(df: DataFrame,
      scorer: TdeScorer = LogisticTdeScorer,
      threshold: Double = 0.5): DataFrame = {
    val featured = withFeatures(
      df.filter(ZtfPhotometryFilters.earlyTdePrefilter.mask(df)),
      deredden = true)
    featuresBarrier(featured)
      .filter(qualityCuts(col("tde_features")))
      .withColumn("tde_score", scorer.score(col("tde_features")))
      .filter(col("tde_score") >= threshold)
  }

  /** Registry binding (additive name — stage 1 alone remains
    * `ztf.early_tde_prefilter`): the prefilter's columns and mask, with
    * the whole pipeline as its stage.
    */
  private[filters] val registryEntry: AlertFilter =
    ZtfPhotometryFilters.earlyTdePrefilter.copy(
      name = "ztf.early_tde_candidates",
      description = "Early TDE candidates: prefilter + closed-form " +
        "rise/color fit + logistic score (pluggable scorer seam for a " +
        "trained model)",
      stage = Some(earlyTdeCandidates(_)))
}
