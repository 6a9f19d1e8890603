package graft.filters.ztf

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.filters.AlertFilter

/** Multi-messenger (GRB / GW counterpart) filters —
  * `fink_filters/ztf/filter_mm_module/filter.py:25-261`. Inputs are the
  * GRB-module output columns (fink_class, observatory, rb, grb_proba,
  * grb_loc_error, rate). All pure expressions.
  */
object MmFilters {

  val GrbObservatories: Seq[String] = Seq("Fermi", "SWIFT", "INTEGRAL")
  val GwObservatories: Seq[String] = Seq("LVK")

  /** erf(5/√2) — the 5σ two-sided coverage constant the reference
    * computes at import time with scipy (`filter.py:145`); Catalyst
    * constant-folds the literal the same way.
    */
  val Erf5Sigma: Double = 0.9999994266968563

  private val finkExtragalactic = Seq(
    "Kilonova candidate", "SN candidate", "Early SN Ia candidate",
    "Ambiguous")

  /** bronze: rb ≥ 0.7 ∧ observatory ∈ set ∧ class extragalactic-like —
    * `filter.py:29-62`.
    */
  def bronze(observatories: Seq[String]): Column =
    col("rb") >= 0.7 && col("observatory").isin(observatories: _*) &&
      col("fink_class").isin(
        SimbadClasses.ExtragalacticHosts ++ finkExtragalactic: _*)

  /** silver: bronze ∧ (1 − grb_proba) > erf(5/√2) — `filter.py:112-148`. */
  def silver(observatories: Seq[String]): Column =
    bronze(observatories) && (lit(1.0) - col("grb_proba")) > Erf5Sigma

  /** gold: silver ∧ rb ≥ 0.9 ∧ loc error ≤ 5′ ∧ |rate| > 0.3 mag/d —
    * `filter.py:165-207`.
    */
  def gold(observatories: Seq[String]): Column =
    silver(observatories) && col("rb") >= 0.9 &&
      col("grb_loc_error") / 60 <= 5 && abs(col("rate")) > 0.3

  /** The GRB-module output columns every level reads. */
  private val MmColumns = Seq("fink_class", "observatory", "rb", "grb_proba",
    "grb_loc_error", "rate")

  val grbBronze: AlertFilter = AlertFilter("ztf.mm.grb_bronze",
    "GRB counterpart candidates (bronze)", MmColumns,
    mask = _ => bronze(GrbObservatories))
  val grbSilver: AlertFilter = AlertFilter("ztf.mm.grb_silver",
    "GRB counterpart candidates (silver, 5-sigma association)", MmColumns,
    mask = _ => silver(GrbObservatories))
  val grbGold: AlertFilter = AlertFilter("ztf.mm.grb_gold",
    "GRB counterpart candidates (gold, fast + well-localized)", MmColumns,
    mask = _ => gold(GrbObservatories))
  val gwBronze: AlertFilter = AlertFilter("ztf.mm.gw_bronze",
    "GW counterpart candidates (bronze)", MmColumns,
    mask = _ => bronze(GwObservatories))

  val all: Seq[AlertFilter] = Seq(grbBronze, grbSilver, grbGold, gwBronze)
}
