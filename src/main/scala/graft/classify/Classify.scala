package graft.classify

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.filters.AlertFilter
import graft.filters.ztf.ZtfFilters

/** Fink classification cascade (O21) — the engine analog of
  * `fink_filters/ztf/classification.py:139-210`
  * (`extract_fink_classification_`).
  *
  * Reference semantics: start from "Unknown"; apply per-filter labels in
  * priority order (later pandas `mask` calls override earlier ones:
  * mulens < SN < early SN Ia < KN < SSO-candidate < tracklet < SSO-MPC,
  * `classification.py:193-199`); rewrite to "Ambiguous" when ≥2 of
  * {mulens, SN, SSO-cand, SSO-MPC} fire (`:202-207`); finally a SIMBAD
  * match overrides everything with the SIMBAD type (`:209`).
  *
  * Expressed as one when/otherwise chain with priorities reversed (first
  * match wins), whole-stage codegen end to end.
  */
object Classify {

  /** The classification column. `withTracklet=false` reproduces the
    * livestream variant where the tracklet label is not yet available
    * (`filter_unknowns/filter.py:121` passes an empty tracklet column).
    */
  def extractFinkClassification(
      df: DataFrame, withTracklet: Boolean = true): Column = {
    import ZtfFilters._
    def flag(c: Column): Column = coalesce(c, lit(false))
    val fMulens = flag(microlensingCandidates.mask(df))
    val fSn = flag(snCandidates.mask(df))
    val fSnEarly = flag(earlySnCandidates.mask(df))
    val fKn = flag(knCandidates.mask(df))
    val fR2 = flag(ssoFinkCandidates.mask(df))
    val fR3 = flag(ssoZtfCandidates.mask(df))
    val fTracklet =
      if (withTracklet) flag(trackletCandidates.mask(df)) else lit(false)
    val fSimbad = flag(simbadCandidates.mask(df))
    // ambiguity counts ONLY mulens/SN/SSO flags (classification.py:202-205)
    val ambiguity =
      Seq(fMulens, fSn, fR2, fR3).map(_.cast("int")).reduce(_ + _)
    when(fSimbad, col("cdsxmatch"))
      .when(ambiguity > 1, lit("Ambiguous"))
      .when(fR3, lit("Solar System MPC"))
      .when(fTracklet, lit("Tracklet"))
      .when(fR2, lit("Solar System candidate"))
      .when(fKn, lit("Kilonova candidate"))
      .when(fSnEarly, lit("Early SN Ia candidate"))
      .when(fSn, lit("SN candidate"))
      .when(fMulens, lit("Microlensing candidate"))
      .otherwise(lit("Unknown"))
  }

  /** Per-class alert counts, largest first — the reporting shape of
    * `classification.py` doctests (O14).
    */
  def classHistogram(df: DataFrame): DataFrame =
    df.withColumn("class", extractFinkClassification(df))
      .groupBy("class").count()
      .orderBy(desc("count"), asc("class"))

  /** Unclassified alerts — `filter_unknowns/filter.py:108-129` (the
    * livestream re-derivation, tracklet unavailable).
    */
  val unknowns: AlertFilter = AlertFilter(
    "ztf.livestream.unknowns", "Alerts the full classification leaves Unknown",
    Seq("cdsxmatch", "roid", "mulens", "snn_snia_vs_nonia", "snn_sn_vs_all",
      "rf_snia_vs_nonia", "rf_kn_vs_nonkn", "candidate"),
    mask = extractFinkClassification(_, withTracklet = false) === "Unknown")
}
