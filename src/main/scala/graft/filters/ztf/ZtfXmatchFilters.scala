package graft.filters.ztf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.filters.AlertFilter
import graft.xmatch.CrossMatch

/** Cross-match-backed ZTF filters (O17-O19). Unlike the pure-predicate
  * catalog in [[ZtfFilters]], these match against a catalog DataFrame,
  * so they override `apply` (the mask alone cannot express them) and
  * also expose the reference's enrichment form — a label column,
  * "Unknown" when unmatched.
  */
object ZtfXmatchFilters {

  /** `known_tde` enrichment: TDE name per alert within 5″, positive
    * difference alerts only — `filter_known_tde/filter.py:59-129`.
    */
  def withKnownTde(df: DataFrame, catalog: DataFrame,
      outCol: String = "tde"): DataFrame =
    // the reference cross-matches only isdiffpos-valid alerts
    // (filter.py:124-129); invalid ones stay "Unknown" without competing
    // in the mutual-nearest ranking
    CrossMatch.mutualNearestLabel(
      df, "candid", col("candidate.ra"), col("candidate.dec"),
      catalog, outCol, eligible = col("candidate.isdiffpos").isin("t", "1"))

  /** `crossmatch_symbiotic` enrichment ("Name,source" label) —
    * `filter_symbiotic_stars/filter.py:34-107`.
    */
  def withSymbiotic(df: DataFrame, catalog: DataFrame,
      outCol: String = "symbiotic"): DataFrame =
    CrossMatch.mutualNearestLabel(
      df, "candid", col("candidate.ra"), col("candidate.dec"),
      catalog, outCol)

  /** `crossmatch_dwarf_agn` enrichment (MaNGAID label) —
    * `filter_dwarf_agn/filter.py:34-94`.
    */
  def withDwarfAgn(df: DataFrame, catalog: DataFrame,
      outCol: String = "manga"): DataFrame =
    CrossMatch.mutualNearestLabel(
      df, "candid", col("candidate.ra"), col("candidate.dec"),
      catalog, outCol)

  private def matchedFilter(n: String, desc: String,
      enrich: DataFrame => DataFrame, outCol: String): AlertFilter =
    new AlertFilter {
      val name = n
      override val description = desc
      val requiredColumns = Seq("candid", "candidate.ra", "candidate.dec")
      def mask(df: DataFrame): Column = col(outCol) =!= "Unknown"
      override def apply(df: DataFrame): DataFrame =
        enrich(df).filter(col(outCol) =!= "Unknown")
    }

  def knownTde(catalog: DataFrame): AlertFilter = matchedFilter(
    "ztf.known_tde", "Alerts matching a known TDE within 5 arcsec",
    withKnownTde(_, catalog), "tde")

  /** `magnetic_cvs` — positive alerts cross-matched against the magnetic
    * CV catalog with per-source radii
    * (`filter_magnetic_cvs/filter.py:122-173`; same positive-only gate
    * as known_tde).
    */
  def magneticCvs(catalog: DataFrame): AlertFilter = matchedFilter(
    "ztf.livestream.magnetic_cvs",
    "Alerts matching known magnetic cataclysmic variables",
    withKnownTde(_, catalog, "mcvs"), "mcvs")

  def symbioticStars(catalog: DataFrame): AlertFilter = matchedFilter(
    "ztf.symbiotic_stars",
    "Alerts matching symbiotic / cataclysmic star catalogs",
    withSymbiotic(_, catalog), "symbiotic")

  def dwarfAgn(catalog: DataFrame): AlertFilter = matchedFilter(
    "ztf.dwarf_agn", "Alerts matching the dwarf-AGN list",
    withDwarfAgn(_, catalog), "manga")

  /** Registry bindings to the packaged default catalogs (O23 — the
    * reference re-reads these files inside its UDF per batch; here they
    * are read once per apply). The parameterized factories
    * above remain the injectable form; these resolve the catalog lazily
    * from the incoming frame's session so the string-dispatch config
    * path (SURVEY §3.1) covers the xmatch family too.
    */
  private def defaultBound(n: String, desc: String,
      factory: DataFrame => AlertFilter,
      catalog: org.apache.spark.sql.SparkSession => DataFrame): AlertFilter =
    new AlertFilter {
      val name = n
      override val description = desc + " (packaged default catalog)"
      val requiredColumns = Seq("candid", "candidate.ra", "candidate.dec")
      def mask(df: DataFrame): Column =
        factory(catalog(df.sparkSession)).mask(df)
      override def apply(df: DataFrame): DataFrame =
        factory(catalog(df.sparkSession))(df)
    }

  import graft.xmatch.Catalogs

  val all: Seq[AlertFilter] = Seq(
    defaultBound("ztf.known_tde",
      "Alerts matching a known TDE within 5 arcsec",
      knownTde, Catalogs.knownTde(_)),
    defaultBound("ztf.livestream.magnetic_cvs",
      "Alerts matching known magnetic cataclysmic variables",
      magneticCvs, Catalogs.magneticCvs),
    defaultBound("ztf.symbiotic_stars",
      "Alerts matching symbiotic / cataclysmic star catalogs",
      symbioticStars, Catalogs.symbiotic),
    defaultBound("ztf.dwarf_agn",
      "Alerts matching the dwarf-AGN list",
      dwarfAgn, Catalogs.dwarfAgn))

  graft.filters.FilterRegistry.register(all: _*)

  def load(): Unit = ()
}
